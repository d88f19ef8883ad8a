package graft.streaming

import graft.operators.{ConnectedComponents, Materialize}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The LOG-STRUCTURED UNION-FIND behind every streaming CLUSTER-LABEL
  * maintainer ([[ClusterStream]] for text minhash clusters,
  * [[EmbClusterStream]] for embedding sign-sketch clusters) — the label
  * state itself, independent of how pairs are discovered.
  *
  * Why a log and not a snapshot: the ER stream may rewrite its whole
  * label snapshot per batch because that snapshot is ENTITY-sized (the
  * catalog is fixed); document/vector cluster labels are CORPUS-sized,
  * so a snapshot-per-batch design would rewrite 100 TB of labels per
  * micro-batch. The log writes O(batch) per batch instead:
  *
  *  - `delta/batch=<id>/lb=<id mod B>/` — (id, comp) for THAT batch's
  *    ids only, with the component resolved as of the batch; internally
  *    partitioned by the id bucket `lb`, so point lookups prune to the
  *    touched buckets ([[graft.operators.VectorIndex]]'s `cluster=` /
  *    BM25's `tb=` discipline, applied to labels);
  *  - `alias/batch=<id>/` — (from, to) rows recording each OLD
  *    component id that batch merged away, pointing to the merged
  *    component's new (smaller) id.
  *
  * An id's current component = its unique delta row's comp, chased
  * through the alias log to a root. Merged component ids never
  * resurrect (a component only grows, and its id is its min member, so
  * a retired id can never become a min again) — alias chains strictly
  * decrease, resolution is a pointer-doubling closure over the alias
  * log alone (O(aliases · log chain), never corpus-sized), and applying
  * the closure to ANY delta generation is sound because a delta's comps
  * are roots as of its batch and aliases at or before that batch cannot
  * name them.
  *
  * Both closures run on the DRIVER when they are small. A batch's
  * contracted graph ([[advance]], through
  * [[graft.operators.ConnectedComponents.contractionRelabel]]) and the
  * alias log ([[aliasClosure]], used by lookup, serve and the fold
  * transform) are materialized once, and the same job collects them when
  * they hold at most [[graft.operators.ConnectedComponents.LocalEdgeBound]]
  * (65,536) rows. Union-find on the driver then closes them with no
  * Spark job, and the result is a local relation that later joins
  * broadcast. A streaming label batch contracts to a few dozen edges,
  * which the distributed closure took 12–20 Spark jobs to close, and the
  * alias closure added 1 + rounds jobs. Larger graphs and logs run
  * the distributed loops ([[graft.operators.ConnectedComponents
  * .componentsOfEdges]], [[aliasClosureCounted]]): a store folded only
  * rarely can hold more aliases than a driver should collect, and the
  * loops need no bound at all.
  *
  * Exactly-once: both writes are `batch=<id>`-keyed OVERWRITEs and
  * every read excludes the current batch id — a foreachBatch replay
  * recomputes the same advance from the same predecessor state and
  * rewrites its own partials verbatim (spec-pinned by both consumer
  * suites, including replay ACROSS a compaction).
  *
  * Compaction ([[compactState]]): folds the delta log into one
  * lb-partitioned consolidated partial with the alias closure APPLIED
  * (every comp rewritten to its root), then clears the folded alias
  * partials — [[IndexCompaction.compact]]'s write-then-swap manifest
  * machinery with a fold transform, crash-recoverable at every step.
  * The newest delta partial stays live and the newest alias partial is
  * retained (the keep-newest replay headroom); a retained alias
  * re-applied to already-folded rows is a no-op (its `from` ids no
  * longer occur).
  *
  * INCREMENTAL contraction (r16 — no corpus-sized maintenance barrier
  * left): [[compactStateTiered]] folds delta runs ≤ `fanIn` at a time
  * with the closure applied as a row-local transform, stamping each
  * produced run with the alias generation it is contracted through
  * ([[HwmFile]]); [[refreshState]] advances the laggard runs one
  * bounded rewrite at a time; [[retireAliases]] deletes every alias
  * partial all surviving runs post-date. Together they clear the alias
  * log with every pause bounded by one tier's run size — the monolithic
  * [[compactState]] remains as the reach-steady-state-now verb, no
  * longer the only path to a contracted log. (Reference analog: bounded
  * savepoint state instead of history rewrites, ec:2104-2194.) */
object LabelLog {

  /** DEFAULT id-bucket count of the delta log's internal `lb`
    * partitioning — consumed only at LOG CREATION (r16): the live count
    * is per-store metadata ([[BucketMeta]]), stamped per run and read
    * back at lookup/fold time, so raising it (per-log via
    * [[BucketMeta.setStore]]) never mis-prunes runs written at the old
    * count; this default is FROZEN as the interpretation of unstamped
    * legacy runs. The pruning knob: a point lookup of k ids reads at
    * most min(k, count) buckets. 16 matches the postings layout's
    * default; at 100 TB corpus scale raise it (65k buckets ⇒ a batch's
    * lookup reads ~|batch| row groups). */
  val Buckets = 16

  /** The id's `lb` bucket at count `n` (ids are BIGINT — plain mod). */
  private def lbBucket(c: org.apache.spark.sql.Column, n: Int) =
    pmod(c, lit(n.toLong)).cast("int")

  /** The delta log's CURRENT store count — read driver-side by callers
    * that accumulate endpoint `lb` buckets off an earlier materializing
    * job (r19, guide §1.5) instead of paying [[lookupRows]]'s per-batch
    * collect. */
  private[streaming] def storeBucketCount(s: SparkSession,
      labelsDir: String): Int =
    BucketMeta.storeCount(s, deltaRoot(labelsDir), Buckets)

  /** [[lbBucket]] for those callers — the EXACT lookup arithmetic. */
  private[streaming] def lbBucketCol(c: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column = lbBucket(c, n)

  private def deltaRoot(labelsDir: String) = s"$labelsDir/delta"
  private def aliasRoot(labelsDir: String) = s"$labelsDir/alias"

  /** Per-run FOLD HIGH-WATER MARK file (the `_graft_planes` convention:
    * an underscore-hidden file inside the run dir, stamped atomically
    * with the run by the manifest swap): the newest alias GENERATION
    * whose closure is already applied to every row in the run. A run
    * with hwm ≥ A contains no comp that any alias at batch ≤ A names —
    * so an alias partial may be RETIRED once every delta run's hwm is at
    * or above it ([[retireAliases]]), which is what makes the
    * alias-clearing contraction incremental instead of coupled to the
    * monolithic fold-everything [[compactState]]. */
  private[streaming] val HwmFile = "_graft_fold_hwm"

  /** A delta run's fold high-water mark. A RAW stream-written partial
    * `batch=B` carries no file but is born at hwm = B: [[advance]]
    * resolves its comps through the closure of aliases < B and batch
    * B's own relabel, so no alias at batch ≤ B can name them. A folded
    * run without the file (written before r16's stamping, or by an
    * identity fold of unknown inputs) is conservatively unbounded-low —
    * it blocks retirement until a refresh rewrites it. */
  private def runHwm(s: SparkSession, labelsDir: String,
      dirName: String): Long =
    IndexCompaction.readRunMeta(s, deltaRoot(labelsDir), dirName, HwmFile)
      .map(_.toLong)
      .getOrElse {
        val id = dirName.stripPrefix("batch=").toLong
        if (id >= 0L) id else Long.MinValue
      }

  /** `batch=` directory names under `dir` (committed-only when asked). */
  private def runDirs(s: SparkSession, dir: String,
      committedOnly: Boolean): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filter(st => !committedOnly ||
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName)
  }

  private val AliasSchema = "from BIGINT, to BIGINT, batch BIGINT"
  private val DeltaSchema = "id BIGINT, comp BIGINT, lb INT, batch BIGINT"

  /** All alias rows from batches strictly below `below`. The explicit
    * schema makes an all-empty log (batches with no merges write empty
    * partials) read as an empty frame instead of failing inference. */
  private def readAliases(s: SparkSession, labelsDir: String,
      below: Long): DataFrame =
    if (ErStream.prevSnapshot(s, aliasRoot(labelsDir), below).isEmpty)
      s.range(0).select(col("id").as("from"), col("id").as("to"))
    else s.read.schema(AliasSchema).parquet(aliasRoot(labelsDir))
      .filter(col("batch") < below).select(col("from"), col("to"))

  private def readDeltas(s: SparkSession, labelsDir: String,
      below: Long): DataFrame =
    s.read.schema(DeltaSchema).parquet(deltaRoot(labelsDir))
      .filter(col("batch") < below)

  /** Transitive root of every alias edge: (from, to) with `to` chased to
    * the end of its chain. Chains strictly decrease (a merge points to
    * the smaller id), and the input is the ALIAS LOG ONLY — merges since
    * the last compaction — never anything corpus-sized. The distinct
    * alias rows are materialized once; when there are at most
    * [[ConnectedComponents.LocalEdgeBound]] of them the same job collects
    * them and they close on the driver ([[localAliasClosure]]),
    * returning a local relation. A larger log runs the pointer-doubling
    * loop of [[aliasClosureCounted]] over the materialized rows. */
  private[streaming] def aliasClosure(aliases: DataFrame): DataFrame = {
    val (a, local) = Materialize.withEdges(
      aliases.select(col("from"), col("to")).distinct(),
      col("from"), col("to"), ConnectedComponents.LocalEdgeBound)
    local match {
      case Some(e) => localAliasClosure(aliases.sparkSession, e)
      case None => doublingRounds(a, live = true)._1
    }
  }

  /** [[aliasClosure]] on the driver: `pairs` holds the distinct alias
    * rows as `from0, to0, from1, to1, …`. Under the log's invariant — a
    * component is merged away once, into a smaller id — the aliases form
    * a forest whose chains all descend to their tree's minimum, so each
    * `from`'s root is the minimum id connected to it: the union-find of
    * [[ConnectedComponents.localComponents]]. A `from` with two targets
    * or an alias to a larger id breaks the invariant and raises. */
  private[streaming] def localAliasClosure(s: SparkSession,
      pairs: Array[Long]): DataFrame = {
    val froms = Array.tabulate(pairs.length / 2)(i => pairs(2 * i))
    froms.indices.foreach { i =>
      require(pairs(2 * i + 1) < froms(i),
        s"alias ${froms(i)} -> ${pairs(2 * i + 1)} does not point to a smaller id")
    }
    froms.sorted.sliding(2).foreach { w =>
      require(w.length < 2 || w(0) != w(1),
        s"alias log names two targets for component ${w(0)}")
    }
    val (ids, comps) = ConnectedComponents.localComponents(pairs)
    val rows = froms.toSeq.map(f =>
      Row(f, comps(java.util.Arrays.binarySearch(ids, f))))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("from", LongType, false), StructField("to", LongType, false))))
  }

  /** The pointer-doubling closure plus its executed round count — the
    * depth seam the 64-batch suite pins: each round rewrites `to` to its
    * own alias target when one exists, halving the longest chain, so a
    * linear-chain alias log of length L closes in ceil(log2(L)) hop
    * rounds + 1 terminal no-hop round, never L. Large logs take this
    * loop through [[aliasClosure]].
    *
    * ONE Spark job per round (r17): the liveness/hop probes ride the
    * round's own materializing job via [[Materialize.withAny]]'s
    * task-side accumulator, instead of a second checkpoint-then-count
    * action — at per-batch maintenance scale the probe data is tiny
    * but the job constant is not (the r16 profile's finding). */
  private[streaming] def aliasClosureCounted(
      aliases: DataFrame): (DataFrame, Int) = {
    val (a, live) = Materialize.withAny(
      aliases.select(col("from"), col("to")).distinct(), lit(true))
    doublingRounds(a, live)
  }

  /** The doubling rounds over materialized distinct alias rows
    * `aliases`; `live` says whether it has a row. */
  private def doublingRounds(aliases: DataFrame,
      live: Boolean): (DataFrame, Int) = {
    var a = aliases
    var hop = live
    var rounds = 0
    while (hop) {
      rounds += 1
      require(rounds <= 64,
        s"alias closure did not converge after $rounds doubling rounds")
      val (stepped, hopped) = Materialize.withAny(a.as("x")
        .join(a.select(col("from").as("_f"), col("to").as("_t")),
          col("to") === col("_f"), "left")
        .select(col("from"), coalesce(col("_t"), col("to")).as("to"),
          col("_t").isNotNull.as("_hopped")),
        col("_hopped"))
      hop = hopped
      a = stepped.select(col("from"), col("to"))
    }
    (a, rounds)
  }

  /** The closure round count over the CURRENT alias log — suite seam. */
  private[streaming] def closureRounds(s: SparkSession,
      labelsDir: String): Int =
    aliasClosureCounted(readAliases(s, labelsDir, Long.MaxValue))._2

  /** Chase every label's comp through the alias closure. */
  private def resolve(labels: DataFrame, aliases: DataFrame): DataFrame = {
    val cl = aliasClosure(aliases)
      .select(col("from").as("_af"), col("to").as("_at"))
    labels.join(cl, col("comp") === col("_af"), "left")
      .select(col("id"), coalesce(col("_at"), col("comp")).as("comp"))
  }

  /** Current components of `ids` (old ids only — absent ids resolve to
    * nothing and the caller seeds them as singletons): a BUCKET-PRUNED
    * point lookup — the driver collects the ≤ [[Buckets]] distinct `lb`
    * values the ids hash to (bounded metadata, the EmbDedupStream
    * prefix-probe pattern) and the delta read prunes to those
    * partitions, then the alias closure re-points merged comps. */
  private[streaming] def lookupComps(s: SparkSession, labelsDir: String,
      batchId: Long, ids: DataFrame,
      lbPre: Option[(Int, Seq[Int])] = None): DataFrame = {
    if (ErStream.prevSnapshot(s, deltaRoot(labelsDir), batchId).isEmpty)
      return ids.select(col("id"), col("id").as("comp")).limit(0)
    resolve(lookupRows(s, labelsDir, batchId, ids, lbPre),
      readAliases(s, labelsDir, batchId))
  }

  /** The bucket-pruned point-read itself — the lookup's scan frame,
    * shared with the plan pin (which asserts `lb` partition pruning
    * reaches the delta scan). `lbPre` (r19, guide §1.5): a bucket set
    * already accumulated for a SUPERSET of `ids` at a known count —
    * used for any run group whose stamped count matches (pruning
    * tolerates supersets; the semi-join keeps row semantics exact),
    * other groups fall back to the per-group collect. */
  private[streaming] def lookupRows(s: SparkSession,
      labelsDir: String, batchId: Long, ids: DataFrame,
      lbPre: Option[(Int, Seq[Int])] = None): DataFrame = {
    val empty = ids.select(col("id"), col("id").as("comp")).limit(0)
    // Count-grouped (r16): each run group prunes with the bucket set
    // computed at ITS OWN stamped count; single-count logs (the common
    // case) take the unrestricted fast path — the pinned plan shape.
    val groups = BucketMeta.runGroups(s, deltaRoot(labelsDir), Buckets)
      .map { case (n, bs) => n -> bs.filter(_ < batchId) }
      .filter(_._2.nonEmpty).toSeq.sortBy(_._1)
    val frames = groups.map { case (n, bs) =>
      val buckets = lbPre.filter(_._1 == n).map(_._2.map(x => x: Any))
        .getOrElse(BucketMeta.bucketsOf(ids, "id", n, lbBucket))
      if (buckets.isEmpty) empty
      else {
        val base = readDeltas(s, labelsDir, batchId)
        (if (groups.size == 1) base
         else base.filter(col("batch").isin(bs: _*)))
          .filter(col("lb").isin(buckets: _*))
          .join(ids.select(col("id")), Seq("id"), "left_semi")
          .select(col("id"), col("comp"))
      }
    }
    if (frames.isEmpty) empty else frames.reduce(_ unionByName _)
  }

  /** One label advance — the O(batch) union step shared by every
    * consumer: fold `committed` pairs (e1, e2; both endpoints either in
    * `batchIds` or already labeled) into the log for `batchId`.
    * `batchIds` must be the batch's distinct ids. */
  private[streaming] def advance(spark: SparkSession, labelsDir: String,
      batchId: Long, batchIds: DataFrame, committed: DataFrame,
      lbPre: Option[(Int, Seq[Int])] = None): Unit = {
    val endpoints = committed.select(col("e1").as("id"))
      .unionByName(committed.select(col("e2").as("id"))).distinct()
    // Old endpoints' current comps: bucket-pruned point lookup. Batch
    // ids seed as themselves (their own delta rows — if replaying —
    // are excluded by the batch < current filter).
    val oldEndpoints = endpoints.join(batchIds, Seq("id"), "left_anti")
    // Materialized: seeds feeds BOTH sides of the ce join — without the
    // checkpoint the bucket-pruned lookup and the union-distinct run
    // twice inside ce's job, which measured WORSE than the dedicated
    // materialization round-trip (r17: gate 23.5 → 27-29 s when tried).
    val seeds = Materialize(
      batchIds.select(col("id"), col("id").as("comp")).unionByName(
        lookupComps(spark, labelsDir, batchId, oldEndpoints, lbPre)))
    // Contract each pair to its endpoints' comps and close the O(batch)
    // contracted graph — ConnectedComponents' one contraction core, the
    // same as closeWithNewEdges, except that here the RELABEL MAP itself
    // is the output (the full label table must never materialize per
    // batch). A small contracted graph closes on the driver.
    val contracted = ConnectedComponents.contractionRelabel(seeds, committed)
    val ceAny = contracted.isDefined
    val relabel = contracted match {
      case None =>
        seeds.select(col("comp").as("_oc"), col("comp").as("_nc")).limit(0)
      case Some(r) =>
        r.select(col("id").as("_oc"), col("comp").as("_nc"))
          .filter(col("_oc") =!= col("_nc"))
    }
    // Alias partial: OLD component ids this batch merged away. A fresh
    // batch seed that merged needs no alias (no prior row references
    // it — ids are ingested once); its delta row below carries the
    // final comp directly. Aliases write BEFORE deltas: the serving
    // reads key on the newest committed DELTA, so a crash between the
    // two leaves the alias partial invisible until the replay rewrites
    // both.
    //
    // MERGE-FREE batches skip the write outright (r18 — the advance's
    // write-job diet, VERDICT r17 #5): with no merged edge, relabel is
    // empty BY CONSTRUCTION (the ceAny accumulator already knows —
    // no extra action), so the partial would be an empty parquet whose
    // only content is a Spark write job's fixed constant. Replay-
    // verbatim holds: a replay recomputes the same empty relabel and
    // skips identically, every alias reader lists whatever run dirs
    // exist (absence ≡ empty partial), and the ONE case where a
    // merge-free recompute must still write — a replay of a formerly-
    // MERGING batch after a newest-inclusive fold pre-applied its
    // merges, whose stale partial must be overwritten (with emptiness)
    // exactly as before — is caught by the existence probe: one
    // driver-side exists(), never a Spark job. Contraction pressure no
    // longer depends on a partial per batch — maintain()'s run-count
    // term (deltaRunCount) bounds merge-free workloads on its own.
    // The remaining two jobs (alias on merge batches + delta) resist
    // fusion without a layout change: a single unioned run per batch
    // would put rows with DIFFERENT lifecycles (deltas tier-fold under
    // the closure transform; aliases retire wholesale once all runs
    // post-date them) inside one run structure, coupling the fold
    // transform to retirement — evaluated r18 and rejected as not
    // worth the replay-contract blast radius for one job constant.
    val aliasRun = new org.apache.hadoop.fs.Path(
      s"${aliasRoot(labelsDir)}/batch=$batchId")
    val aliasFs = aliasRun.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (ceAny || aliasFs.exists(aliasRun))
      relabel.join(batchIds, col("_oc") === col("id"), "left_anti")
        .select(col("_oc").as("from"), col("_nc").as("to"))
        .write.mode("overwrite")
        .parquet(s"${aliasRoot(labelsDir)}/batch=$batchId")
    // Delta partial: every batch id's final comp, bucketed at the
    // log's current count (stamped at creation) and the run stamped
    // with it, for pruned future lookups.
    val n = BucketMeta.ensureStore(spark, deltaRoot(labelsDir), Buckets)
    batchIds.select(col("id"), col("id").as("comp"))
      .join(relabel, col("comp") === col("_oc"), "left")
      .select(col("id"), coalesce(col("_nc"), col("comp")).as("comp"))
      .withColumn("lb", lbBucket(col("id"), n))
      .write.partitionBy("lb").mode("overwrite")
      .parquet(s"${deltaRoot(labelsDir)}/batch=$batchId")
    BucketMeta.stampRun(spark, deltaRoot(labelsDir), batchId, n)
  }

  /** The current labels, shaped like the cluster queries' output:
    * (<idCol>, component, cluster_size, keep). Reads the delta log up to
    * the newest COMMITTED delta partial and chases the alias closure —
    * one linear pass over corpus-sized state plus the component window,
    * the serving read (per-batch maintenance never runs this). */
  private[streaming] def serve(s: SparkSession, labelsDir: String,
      idCol: String): DataFrame = {
    val last = ErStream.prevSnapshot(s, deltaRoot(labelsDir), Long.MaxValue)
      .getOrElse(throw new IllegalStateException(
        s"no label state under $labelsDir"))
    resolve(readDeltas(s, labelsDir, last + 1).select(col("id"), col("comp")),
        readAliases(s, labelsDir, last + 1))
      .select(col("id").as(idCol), col("comp").as("component"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .withColumn("keep", col(idCol) === col("component"))
  }

  /** Fold the label log: consolidate the delta partials into one
    * lb-partitioned partial with the alias closure APPLIED, then clear
    * the folded alias partials. [[IndexCompaction.compact]]'s manifest
    * write-then-swap with a fold transform — crash-recoverable at every
    * step, and the two-phase order is idempotent: a crash after the
    * delta fold but before the alias cleanup leaves aliases whose
    * `from` ids no longer occur anywhere, so re-applying them is a
    * no-op and the next pass sweeps them. The newest delta partial is
    * never folded and the newest alias partial never cleared (replay
    * headroom — the keep-newest discipline); only aliases at or below
    * the newest committed delta fold, so a crashed batch's alias
    * partial (delta not yet written) stays out until its replay
    * commits. Single-writer, run quiesced. Returns the number of delta
    * partials folded. */
  /** The closure-application transform shared by every folding verb:
    * rewrite each delta row's comp to its root under the closure of
    * aliases at or below generation `newest`, and RE-BUCKET `lb` to
    * the log's current count `n` — both row-local, so the transform
    * commutes with subset folds ([[IndexCompaction.compactTiered]]'s
    * soundness condition), and re-bucketing makes label folds safe
    * across mixed-count runs (each fold's output is uniformly at `n`,
    * declared to the fold machinery via the count in its runMeta). */
  private def closureTransform(s: SparkSession, labelsDir: String,
      newest: Long, n: Int): DataFrame => DataFrame = {
    // Lazy: a no-fold invocation (no tier at fan-in — the common
    // per-batch case) must not pay the closure's materialization.
    lazy val cl = aliasClosure(readAliases(s, labelsDir, newest + 1))
      .select(col("from").as("_af"), col("to").as("_at"))
    df => df.join(cl, col("comp") === col("_af"), "left")
      .select(col("id"), coalesce(col("_at"), col("comp")).as("comp"),
        lbBucket(col("id"), n).as("lb"))
  }

  /** Fold metadata shared by the three contraction verbs: the hwm
    * generation plus the re-bucketed count. */
  private def foldMeta(gen: Long, n: Int): Map[String, String] =
    Map(HwmFile -> gen.toString, BucketMeta.File -> n.toString)

  private[streaming] def compactState(s: SparkSession,
      labelsDir: String): Int = {
    val newest = ErStream.prevSnapshot(s, deltaRoot(labelsDir), Long.MaxValue)
    if (newest.isEmpty) return 0
    val n = BucketMeta.storeCount(s, deltaRoot(labelsDir), Buckets)
    val folded = IndexCompaction.compact(s, deltaRoot(labelsDir),
      keepNewest = 1,
      transform = closureTransform(s, labelsDir, newest.get, n),
      runMeta = foldMeta(newest.get, n))
    if (folded > 0)
      IndexCompaction.retainSnapshots(s, aliasRoot(labelsDir), keep = 1)
    folded
  }

  /** The monolithic fold a BETWEEN-BATCHES tick may run (r17 — the
    * small-state branch of [[graft.api.Graft.maintain]]'s policy):
    * [[compactState]]'s one-fold consolidation, but contracted through
    * generation `newest − 1` with per-run hwm stamps and
    * [[retireAliases]] — the incremental verbs' replay discipline.
    * [[compactState]] itself is NOT replay-safe mid-stream: its
    * newest-INCLUSIVE closure applies the just-committed batch's
    * merges to the folded base, so a replay of that batch (state
    * written, checkpoint commit lost — exactly the window a
    * foreachBatch tick sits in) would find its merges pre-applied,
    * re-derive an EMPTY alias partial, and re-seed its delta rows as
    * singletons — diverging labels. Contracting through `newest − 1`
    * keeps the replay's inputs (and so its outputs) bit-identical; the
    * newest alias partial survives retirement and resolves the folded
    * base across it. Quiesced installs (stream terminated — nothing
    * can replay) keep [[compactState]] as the reach-steady-state verb. */
  private[streaming] def compactStateSafe(s: SparkSession,
      labelsDir: String): Int = {
    val newest = ErStream.prevSnapshot(s, deltaRoot(labelsDir), Long.MaxValue)
    if (newest.isEmpty) return 0
    val gen = newest.get - 1
    val n = BucketMeta.storeCount(s, deltaRoot(labelsDir), Buckets)
    val folded = IndexCompaction.compact(s, deltaRoot(labelsDir),
      keepNewest = 1,
      transform = closureTransform(s, labelsDir, gen, n),
      runMeta = foldMeta(gen, n))
    retireAliases(s, labelsDir): Unit
    folded
  }

  /** Size-tiered fold of the DELTA log — the label state's bounded-
    * barrier maintenance verb ([[IndexCompaction.compactTiered]] with
    * the row-local [[closureTransform]]). Subset folds are sound here
    * because ids are ingested once, so the delta log holds exactly one
    * row per id and is union-read — a folded run serves the same row
    * set, `lb=` pruning is preserved per fold, and applying the alias
    * closure to ANY delta generation is sound (see the header: a
    * delta's comps are roots as of its batch, and aliases at or before
    * it cannot name them — so rewriting each comp to its CURRENT root
    * changes no resolution). `keepNewest = 1` keeps the newest
    * committed delta partial out (the replay guard — a replayed batch
    * must not see its own rows), matching [[compactState]].
    *
    * r16 — the INCREMENTAL contraction: each fold applies the closure
    * of aliases at or below the newest committed generation and stamps
    * the run with that generation ([[HwmFile]]); [[retireAliases]]
    * then clears every alias partial that all surviving runs post-date.
    * No invocation rewrites more than `fanIn` similar-sized runs, yet
    * aliases still clear — the monolithic [[compactState]] stops being
    * the only path to a contracted alias log. Runs a converged tier
    * structure never re-folds are advanced by [[refreshState]]'s
    * one-bounded-run rewrites. compactState still composes over folded
    * runs unchanged (negative ids fold again like any other). */
  /** Why the incremental verbs contract through generation
    * `newest − 1`, not `newest`: the newest committed batch may still
    * be REPLAYED (state written, checkpoint commit lost), and a replay
    * re-derives its alias partial from the predecessor state it reads.
    * If folded runs were already contracted through the newest
    * generation, the replay's endpoint lookup would find the merge
    * already applied, re-derive the alias partial as EMPTY — breaking
    * the verbatim-replay contract — and any still-unfolded low-hwm run
    * would be left needing the alias rows the replay just erased.
    * Contracting only through `newest − 1` keeps the replay's inputs
    * (and so its outputs) bit-identical. [[compactState]] can afford
    * the newest-inclusive closure only because it folds EVERY
    * non-newest run at once, leaving no low-hwm run behind. */
  private[streaming] def compactStateTiered(s: SparkSession,
      labelsDir: String, fanIn: Int = 4,
      maxRunBytes: Long = Long.MaxValue): IndexCompaction.TieredStats = {
    val newest = ErStream.prevSnapshot(s, deltaRoot(labelsDir), Long.MaxValue)
    if (newest.isEmpty) return IndexCompaction.TieredStats(0, 0, 0, 0L)
    val gen = newest.get - 1
    val n = BucketMeta.storeCount(s, deltaRoot(labelsDir), Buckets)
    val stats = IndexCompaction.compactTiered(s, deltaRoot(labelsDir),
      fanIn = fanIn, keepNewest = 1, maxRunBytes = maxRunBytes,
      transform = closureTransform(s, labelsDir, gen, n),
      runMeta = foldMeta(gen, n))
    retireAliases(s, labelsDir): Unit
    stats
  }

  /** Advance the fold high-water mark of the `maxRuns` LOWEST-hwm delta
    * runs by rewriting each alone with the current closure applied
    * ([[IndexCompaction.refoldRun]]) — the bounded escape from tiered
    * convergence: a top-tier run that never merges again would
    * otherwise pin its hwm forever and block alias retirement. Each
    * invocation rewrites at most `maxRuns` single runs (each bounded by
    * the tier ceiling, never a fold of the accumulated log), so driving
    * refresh + [[retireAliases]] on a long cadence clears the alias log
    * with every pause bounded by one run's size. The newest committed
    * generation's own raw partial is never selected (its hwm equals the
    * newest generation — nothing to advance — which is also the replay
    * guard: a replayed batch must not find its rows re-homed). Returns
    * the number of runs refreshed. Single-writer, run quiesced. */
  private[streaming] def refreshState(s: SparkSession, labelsDir: String,
      maxRuns: Int = 1): Int = {
    require(maxRuns >= 1, s"maxRuns must be positive, got $maxRuns")
    // Heal any crashed fold BEFORE listing: a committed-but-unswapped
    // manifest still shows its consumed dirs, which would be selected
    // and then skipped — recover first so the listing is the truth.
    IndexCompaction.recover(s, deltaRoot(labelsDir))
    val newest = ErStream.prevSnapshot(s, deltaRoot(labelsDir), Long.MaxValue)
    if (newest.isEmpty) return 0
    // `newest − 1`, like compactStateTiered: the newest generation's
    // aliases stay un-applied so its possible replay re-derives them
    // verbatim. The newest raw partial itself (hwm = newest) is never
    // selected below; hwm < newest − 1 is the advance-worthy set.
    val gen = newest.get - 1
    val n = BucketMeta.storeCount(s, deltaRoot(labelsDir), Buckets)
    // Refresh-worthy: hwm behind the contractable generation, OR an
    // out-of-date bucket count (a raised store count migrates the same
    // way) — never the newest committed run (h = newest), the replay
    // guard.
    val stale = runDirs(s, deltaRoot(labelsDir), committedOnly = true)
      .map(d => (d, runHwm(s, labelsDir, d),
        BucketMeta.runCount(s, deltaRoot(labelsDir), d, Buckets)))
      .filter { case (_, h, c) => h < gen || (c != n && h < newest.get) }
      .sortBy { case (d, h, _) => (h, d.stripPrefix("batch=").toLong) }
      .take(maxRuns).map(t => (t._1, t._2))
    if (stale.isEmpty) return 0
    val transform = closureTransform(s, labelsDir, gen, n)
    val meta = foldMeta(gen, n)
    stale.count { case (d, _) =>
      IndexCompaction.refoldRun(s, deltaRoot(labelsDir), d,
        transform = transform, runMeta = meta)
    }
  }

  /** Alias partial count (committed + orphaned) — the contraction-
    * pressure signal of [[graft.api.Graft.maintain]]'s policy: it
    * grows with merge-event generations, never with corpus rows. */
  private[streaming] def aliasPartialCount(s: SparkSession,
      labelsDir: String): Int =
    runDirs(s, aliasRoot(labelsDir), committedOnly = false).size

  /** Committed delta run count — the SECOND contraction-pressure signal
    * of [[graft.api.Graft.maintain]]'s policy (r17 ADVICE): alias
    * pressure alone only grows when batches produce merge events, so a
    * long merge-free workload under the monolithic-below threshold
    * would otherwise accumulate one tiny run per batch indefinitely
    * with no signal ever tripping the barrier. Run count is the
    * file-listing bound contraction exists for, so the policy bounds
    * it directly. */
  private[streaming] def deltaRunCount(s: SparkSession,
      labelsDir: String): Int =
    runDirs(s, deltaRoot(labelsDir), committedOnly = true).size

  /** Total delta-log data bytes — the label-state SIZE signal of
    * [[graft.api.Graft.maintain]]'s monolithic-below-crossover policy
    * (r17): a driver filesystem walk over the run dirs, bounded by the
    * maintained run count, never a data read. */
  private[streaming] def stateBytes(s: SparkSession,
      labelsDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(deltaRoot(labelsDir))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    IndexCompaction.dataBytes(fs, p)
  }

  /** Retire every alias partial that ALL delta runs post-date: an alias
    * at batch A is unreferenced — and its partial deletable — once
    * every run's hwm is ≥ A, because no surviving comp can name its
    * `from` (and retirement is a PREFIX of the alias log, which chain
    * resolution never re-enters: an alias's `to` can only be merged
    * away by a strictly later alias, so every chain step from a
    * surviving comp uses a generation above the retired prefix). The
    * newest alias partial is always kept (the [[compactState]] replay
    * headroom — re-applying it to already-folded rows is a no-op).
    * Uncommitted delta dirs count at their batch id (a crashed batch's
    * replay rewrites comps as of that id); uncommitted ALIAS dirs above
    * the retirement line are left for their replay to overwrite, while
    * retired orphans (a crash mid-retirement) re-enter the stale set
    * and are swept here. Deletion follows the [[IndexCompaction
    * .retainSnapshots]] discipline — `_SUCCESS` first (the commit
    * point), then the directory; a half-deleted partial still read by
    * [[readAliases]] is harmless because retired aliases are no-ops by
    * the hwm argument above. Returns the partials removed. */
  private[streaming] def retireAliases(s: SparkSession,
      labelsDir: String): Int = {
    val deltas = runDirs(s, deltaRoot(labelsDir), committedOnly = false)
    if (deltas.isEmpty) return 0
    val minHwm = deltas.map(d => runHwm(s, labelsDir, d)).min
    val aliases = runDirs(s, aliasRoot(labelsDir), committedOnly = false)
    if (aliases.isEmpty) return 0
    val newestAlias = aliases.map(_.stripPrefix("batch=").toLong).max
    val stale = aliases.filter { d =>
      val id = d.stripPrefix("batch=").toLong
      id <= minHwm && id < newestAlias
    }
    val rp = new org.apache.hadoop.fs.Path(aliasRoot(labelsDir))
    val fs = rp.getFileSystem(s.sparkContext.hadoopConfiguration)
    stale.foreach { d =>
      val dir = new org.apache.hadoop.fs.Path(rp, d)
      fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
      fs.delete(dir, true)
    }
    stale.size
  }
}
