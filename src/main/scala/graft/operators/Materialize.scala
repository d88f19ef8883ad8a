package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.udf

/** One-shot lineage-truncating materialization, shared by every operator
  * that computes an intermediate ONCE and references it from several plan
  * branches (MinHash signatures, SimHash fingerprints, IVF assignments,
  * streaming dedup probes).
  *
  * Mode follows [[DedupClusters.components]]' convention: with a session
  * checkpoint directory set (`spark.sparkContext.setCheckpointDir`) the
  * materialization is a RELIABLE `df.checkpoint()`. That is the 100 TB
  * form — `localCheckpoint` pins unreplicated blocks on executors, so on
  * a real cluster one executor loss (or a dynamic-allocation
  * decommission) mid-query makes the intermediate unrecoverable and
  * fails the job, and the materialized table belongs in fault-tolerant
  * storage anyway. Without a checkpoint dir it falls back to the
  * executor-local form: zero setup, the right trade for stable clusters
  * and local runs.
  *
  * Unlike the CC loop there is a single materialization per call, so no
  * per-round file rotation is needed. Spark never auto-deletes reliable
  * checkpoint files; they live under the context-UUID-scoped directory
  * until the deployment's retention policy cleans it — the same contract
  * as the final round of [[DedupClusters.components]].
  */
private[graft] object Materialize {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty)
      df.localCheckpoint()
    else df.checkpoint()

  /** Rebuild a BOUNDED frame as a driver-LOCAL relation (r19 — guide
    * §3.1, the s_ann_index broadcast-rebuild finding): collect its rows
    * once and serve them as a LocalRelation, so every later broadcast
    * of the frame — or of a plan-time-foldable projection over it —
    * builds straight from driver memory instead of re-running the
    * frame's full plan (parquet read + fold + exchange) as fresh Spark
    * jobs on EVERY action that references it. The streaming vocabulary
    * caches use it for state frozen at index creation (bounded by
    * construction: K = ⌈√N⌉ centroid rows, ≤ m·k codebook rows —
    * exactly the bytes every per-batch broadcast already shipped
    * through the driver, now shipped once per stream run instead of
    * once per micro-batch). The caller states the bound as `maxRows`:
    * at most `maxRows + 1` rows are collected, and a frame with more
    * fails loudly instead of being pulled whole into driver memory. */
  def local(df: DataFrame, maxRows: Int): DataFrame = {
    require(maxRows >= 0 && maxRows < Int.MaxValue,
      s"maxRows must be in [0, Int.MaxValue), got $maxRows")
    val got = df.limit(maxRows + 1).collect()
    require(got.length <= maxRows,
      s"Materialize.local: the frame has more than $maxRows rows, the " +
        s"bound its caller gave (schema ${df.schema.simpleString})")
    df.sparkSession.createDataFrame(java.util.Arrays.asList(got: _*), df.schema)
  }

  /** Materialize `df` AND report whether any row satisfied `flag` — off
    * a task-side accumulator populated by the SAME materializing job,
    * so the emptiness/progress probes of iterative drivers (the alias
    * closure's hop check, the label advance's merged-edge check) stop
    * costing a second Spark action each. At per-batch maintenance scale
    * those probe jobs are pure scheduling overhead: the data is tiny,
    * the job constant is not (r16 profile: the label gate's floor IS
    * its fixed job count).
    *
    * The probe is a side-effecting UDF marked non-deterministic (the
    * optimizer must not collapse, re-order past filters, or
    * re-evaluate it), carried in a column that is DROPPED from the
    * returned frame after materialization. Only zero vs non-zero is
    * ever read, so speculative/retried tasks double-counting the
    * accumulator is harmless — reading an exact count here would not
    * be. The flag column must be part of the materialized projection,
    * which `withColumn` before the checkpoint guarantees. The probe
    * column's name is picked FRESH against the input's columns (r17
    * ADVICE): a fixed `_graft_any` would be silently replaced-then-
    * dropped on a frame that already carries one, corrupting the
    * returned frame. */
  def withAny(df: DataFrame, flag: Column): (DataFrame, Boolean) = {
    val probeCol = Iterator.from(0)
      .map(i => if (i == 0) "_graft_any" else s"_graft_any_$i")
      .find(n => !df.columns.contains(n)).get
    val acc = df.sparkSession.sparkContext.longAccumulator("graft_any")
    val probe = udf { (f: Boolean) =>
      if (f) acc.add(1L)
      f
    }.asNondeterministic()
    val out = apply(df.withColumn(probeCol,
      probe(org.apache.spark.sql.functions.coalesce(flag,
        org.apache.spark.sql.functions.lit(false)))))
    (out.drop(probeCol), acc.value > 0L)
  }

  /** Task-side distinct-int set — the accumulator behind [[withIntSets]].
    * Dedup happens inside each task (a ConcurrentHashMap key set), so a
    * task ships at most |bucket space| values to the driver no matter
    * how many rows it saw; merges are set unions. Retried/speculative
    * tasks re-adding the same values are harmless — only membership is
    * ever read, never a count. */
  private final class IntSetAccumulator
      extends org.apache.spark.util.AccumulatorV2[Int, java.util.Set[Int]] {
    private val set = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def isZero: Boolean = set.isEmpty
    override def copy(): IntSetAccumulator = {
      val a = new IntSetAccumulator
      a.set.addAll(set)
      a
    }
    override def reset(): Unit = set.clear()
    override def add(v: Int): Unit = { set.add(v): Unit }
    override def merge(
        other: org.apache.spark.util.AccumulatorV2[Int, java.util.Set[Int]])
        : Unit = set.addAll(other.value): Unit
    override def value: java.util.Set[Int] = set
  }

  /** Materialize `df` AND collect, off the SAME materializing job, the
    * distinct int values each probe column's array evaluates to — the
    * r19 fusion of the streaming probes' per-batch bucket collects
    * (guide §1.5/§2.6): every maintenance probe used to run a separate
    * `distinct().collect()` Spark action per bucket scheme (band `bb`,
    * sidecar `ib`, label `lb`) just to learn which partitions the batch
    * touches — at micro-batch scale each of those actions is 2-3 jobs
    * of pure scheduling constant over data the materializing job had
    * already seen. Each probe column must evaluate to `array<int>` OVER
    * THE SAME ROWS the frame materializes, using the scheme's exact
    * bucket arithmetic — the returned sets are then exactly (or, where
    * a caller over-includes endpoints, a superset of) what the separate
    * collect produced, and partition-prune consumers tolerate supersets
    * by construction. The probe UDF is non-deterministic (never folded,
    * reordered, or elided) and its column is dropped after
    * materialization; accumulator double-adds from retried tasks are
    * harmless because only set membership is read. */
  def withIntSets(df: DataFrame,
      probes: Seq[Column]): (DataFrame, Seq[Seq[Int]]) = {
    if (probes.isEmpty) return (apply(df), Nil)
    val spark = df.sparkSession
    val names = Iterator.from(0).map(i => s"_graft_set_$i")
      .filterNot(df.columns.contains).take(probes.size).toSeq
    val accs = probes.map { _ =>
      val a = new IntSetAccumulator
      spark.sparkContext.register(a, "graft_int_set")
      a
    }
    val withProbes = probes.zip(accs).zip(names)
      .foldLeft(df) { case (d, ((p, acc), name)) =>
        // boxed element type: a null bucket (null key under the
        // scheme's hash) must not NPE on unboxing — the replaced
        // collects carried nulls too, and `isin(null)` never matches,
        // so dropping them from the set preserves the pruning result.
        val probe = udf { (xs: Seq[java.lang.Integer]) =>
          if (xs != null)
            xs.foreach(x => if (x != null) acc.add(x.intValue))
          true
        }.asNondeterministic()
        d.withColumn(name, probe(p))
      }
    val out = apply(withProbes)
    import scala.jdk.CollectionConverters._
    (names.foldLeft(out)(_ drop _),
      accs.map(_.value.asScala.toSeq.sorted))
  }
}
