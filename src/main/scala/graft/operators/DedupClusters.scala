package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Duplicate clustering: the keep-one-per-cluster step that completes the
  * dedup family (north star, SURVEY §2.b). Near-dup pair discovery (MinHash
  * LSH, n-gram Jaccard, embedding sketches) emits an EDGE LIST of candidate
  * pairs; an actual dedup pass must then group transitively-connected
  * documents into clusters and keep one canonical representative per
  * cluster — i.e. connected components over the pair graph. A is a near-dup
  * of B and B of C ⇒ {A,B,C} is one cluster even if (A,C) was never a
  * candidate pair.
  *
  * [[ConnectedComponents.components]] is a Pregel-style min-label
  * propagation with pointer jumping:
  *
  *  - every node starts labeled with itself;
  *  - each round, a node takes the minimum of its own label and its
  *    neighbors' labels (one shuffled join + hash agg on the edge list),
  *    then labels are pointer-jumped (`l(x) ← l(l(x))`, one self-join), so
  *    chains collapse in O(log diameter) rounds instead of O(diameter);
  *  - rounds repeat until a fixpoint (no label changed).
  *
  * The driver loop holds ONLY the changed-count that decides termination —
  * every per-row operation is a distributed join/aggregate, the standard
  * iterative-graph shape on Spark (same as GraphX/Pregel, without needing
  * RDDs). Each round's labels are persisted and the previous round's
  * unpersisted, keeping the lineage one round deep.
  *
  * Scale (100 TB): cost per round is two shuffles keyed by node id — edge
  * join + pointer jump — with map-side partial mins; the loop's label
  * table is one row per EDGE-TOUCHED document (r10: singletons are
  * fixpoints from round 0, so they skip the loop entirely and rejoin at
  * the end), and the edge list is the (much smaller) candidate-pair
  * output of LSH blocking — per-round work scales with the duplicate
  * graph, not the corpus. Dedup-cluster graphs are overwhelmingly tiny
  * components (duplicate groups), so the fixpoint typically lands in 2-4
  * rounds; pointer jumping bounds pathological chains at log₂(n) rounds.
  *
  * Incremental closures close only a CONTRACTED graph
  * ([[ConnectedComponents.contractionRelabel]]): new edges mapped to
  * their endpoints' converged components. A streaming batch contracts to
  * a few dozen edges, where every round of the loop is a join, an
  * aggregate, a join and a checkpoint of almost no data — a fixed cost
  * of Spark jobs. So a contracted graph of at most
  * [[ConnectedComponents.LocalEdgeBound]] edges is collected by the job
  * that materializes it and closed by union-find on the driver; above
  * the bound the loop runs as before. The loop stays the one engine for
  * graphs of unbounded size: the batch clusterings and ER label every
  * node of a corpus-sized pair graph, which no driver should hold.
  */
object ConnectedComponents {

  /** Seed the closure's label table — the input contract of
    * [[closeWithNewEdges]], ONE definition for its three consumers
    * (ER increment, streaming ER, dedup-cluster increment): every node
    * of `nodes` (first column = id) takes its converged label from
    * `labels` (first column = id, second = component) or itself — nodes
    * absent from yesterday's state (the incoming batch, catalog growth)
    * enter as singletons. Returns (id, comp). */
  def seedLabels(nodes: DataFrame, labels: DataFrame): DataFrame = {
    val l = labels.select(col(labels.columns.head).as("_lid"),
      col(labels.columns(1)).as("_lc"))
    nodes.select(col(nodes.columns.head).as("id"))
      .join(l, col("id") === col("_lid"), "left")
      .select(col("id"), coalesce(col("_lc"), col("id")).as("comp"))
  }

  /** Close converged labels `(id, comp)` under NEW edges by CONTRACTION:
    * map each new edge to its endpoints' current components (two
    * equi-joins against the label table — linear scans, the edge side is
    * batch-sized), close the contracted component-level graph — whose
    * node set is bounded by the NEW edge set, never the corpus — with
    * [[contractionRelabel]] (on the driver when it is small), and
    * relabel only the touched components. Exact: refining a
    * converged partition by new edges ≡ closing the contracted graph;
    * min-labels compose because every component id IS the min node id of
    * its group, so a merged group's min component id is its global min
    * node id. This is the incremental-maintenance closure shared by the
    * dedup-cluster and entity-resolution increments (batch and
    * streaming): per-batch cost never touches a corpus-sized graph —
    * star-edge re-entry, the previous form, dragged one edge per
    * non-singleton member through every round.
    *
    * Input contract: every endpoint of `newEdges` must appear in
    * `oldLabels` (seed via [[seedLabels]] over the full node set) — the
    * contraction inner-joins both endpoints against the label table, so
    * an edge with an unseeded endpoint is silently dropped, not raised.
    * The public API (`Graft.erIncrement` / `Graft.clustersIncrement`)
    * documents the same contract on its `entities` / `nodes` input. */
  def closeWithNewEdges(oldLabels: DataFrame,
      newEdges: DataFrame): DataFrame =
    contractionRelabel(oldLabels, newEdges) match {
      case None => oldLabels.select(col("id"), col("comp"))
      case Some(relabel) =>
        val r = relabel.select(col("id").as("_oc"), col("comp").as("_nc"))
        oldLabels.join(r, oldLabels("comp") === col("_oc"), "left")
          .select(col("id"), coalesce(col("_nc"), col("comp")).as("comp"))
    }

  /** The contracted-edge count at or under which [[contractionRelabel]]
    * closes the graph on the driver. Streaming label batches contract to
    * tens or hundreds of edges; 65,536 edges are at most 2 MB of
    * endpoints, which one task and the driver hold easily, and a local
    * relation of that size still broadcasts. */
  val LocalEdgeBound = 65536

  /** The contraction core of both incremental closures
    * ([[closeWithNewEdges]] and [[graft.streaming.LabelLog]]'s advance):
    * map every edge `(e1, e2)` of `edges` to its endpoints' components in
    * `labels` `(id, comp)` — two equi-joins, linear scans with a
    * batch-sized edge side — keep the edges that join two components,
    * and close that contracted graph. Returns the RELABEL MAP `(id,
    * comp)`: every component an edge touches, with the minimum component
    * id of its merged group (a merged group's min component id is its
    * min node id, because every component id is its group's min). `None`
    * when no edge joins two components.
    *
    * The contracted edges are materialized once; the same job collects
    * them when there are at most [[LocalEdgeBound]]
    * ([[Materialize.withEdges]]). Such a graph is closed on the driver by
    * union-find with the minimum id as root ([[localComponents]]) and
    * the map returned as a local relation, which later joins broadcast
    * from driver memory. A larger graph — or one whose ids are not
    * integral — runs [[componentsOfEdges]]' distributed loop over the
    * materialized edges. On a streaming label batch the loop cost 12–20
    * Spark jobs and about 0.7 s for a few dozen edges; the local path
    * costs none. Both paths return the same map. */
  def contractionRelabel(labels: DataFrame,
      edges: DataFrame): Option[DataFrame] = {
    val ce = edges
      .join(labels.select(col("id").as("_i1"), col("comp").as("_c1")),
        col("e1") === col("_i1"))
      .join(labels.select(col("id").as("_i2"), col("comp").as("_c2")),
        col("e2") === col("_i2"))
      .filter(col("_c1") =!= col("_c2"))
      .select(col("_c1").as("e1"), col("_c2").as("e2")).distinct()
    val idType = ce.schema("e1").dataType
    val integral = idType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    if (!integral) {
      // the merged-edge check rides the materializing job (one action,
      // not checkpoint-then-isEmpty — the r17 job-count diet)
      val (m, any) = Materialize.withAny(ce, lit(true))
      if (any) Some(componentsOfEdges(m, "e1", "e2")) else None
    } else {
      val (m, local) =
        Materialize.withEdges(ce, col("e1"), col("e2"), LocalEdgeBound)
      local match {
        case Some(e) if e.isEmpty => None
        case Some(e) =>
          val (ids, comps) = localComponents(e)
          val rows = new java.util.ArrayList[Row](ids.length)
          var i = 0
          while (i < ids.length) { rows.add(Row(ids(i), comps(i))); i += 1 }
          val schema = StructType(Seq(StructField("id", LongType, false),
            StructField("comp", LongType, false)))
          Some(ce.sparkSession.createDataFrame(rows, schema)
            .select(col("id").cast(idType), col("comp").cast(idType)))
        case None => Some(componentsOfEdges(m, "e1", "e2"))
      }
    }
  }

  /** [[componentsOfEdges]] on the driver: `endpoints` holds edges as
    * `a0, b0, a1, b1, …`; returns the distinct endpoint ids in ascending
    * order and, aligned with them, each one's component — the minimum id
    * connected to it. Union-find over the ids' sorted positions, with
    * path halving and the smaller root always kept as the root, so a
    * root is the minimum of its set. O(n log n) for n endpoints. */
  private[graft] def localComponents(
      endpoints: Array[Long]): (Array[Long], Array[Long]) = {
    require(endpoints.length % 2 == 0,
      s"endpoints must hold whole edges, got ${endpoints.length} values")
    val sorted = endpoints.clone()
    java.util.Arrays.sort(sorted)
    var m = 0
    var i = 0
    while (i < sorted.length) {
      if (m == 0 || sorted(m - 1) != sorted(i)) { sorted(m) = sorted(i); m += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, m)
    val parent = Array.tabulate(m)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    i = 0
    while (i < endpoints.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, endpoints(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, endpoints(i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    (ids, Array.tabulate(m)(j => ids(find(j))))
  }

  /** Label every node of `nodes(idCol)` with the minimum node id reachable
    * through `edges(srcCol, dstCol)` (undirected; symmetrized internally).
    * Returns (id, component). `maxRounds` is a safety bound — the loop
    * requires convergence before it and fails loudly otherwise.
    *
    * Every round's label table is an EAGER checkpoint: the round's
    * plan references the previous labels four times (twice around the
    * neighbor-min step, twice more in the pointer jump), so carrying
    * lineage would compound the logical plan ~4× per round — exponential
    * analysis and explain-string cost long before execution itself hurts
    * (AQE stringifies the plan on every stage update). Checkpointing per
    * round keeps the plan constant-size; the label table is one row per
    * node, so the materialization IS the round's join work, and the
    * convergence count then reads the checkpointed blocks. Checkpoint
    * blocks are freed by the ContextCleaner as each round's DataFrame
    * becomes unreachable — nothing registers in the cache manager and no
    * unpersist contract leaks across the API.
    *
    * Fault-tolerance trade-off: the default `localCheckpoint` stores the
    * round's blocks executor-LOCAL and UNREPLICATED with lineage
    * truncated — losing any executor (or a dynamic-allocation
    * decommission) mid-loop makes the labels unrecoverable and fails the
    * job. That is the right trade on a stable cluster, but for
    * long-running 100 TB jobs under dynamic allocation, opt into
    * RELIABLE checkpoints by setting a checkpoint directory
    * (`spark.sparkContext.setCheckpointDir(...)`, as GraphFrames-style CC
    * implementations do): when one is set, every round uses
    * `df.checkpoint()` to the (typically HDFS/object-store) directory
    * and survives executor loss. (The block-freeing note above applies to
    * the localCheckpoint path; Spark's cleaner does NOT delete reliable
    * checkpoint files by default, so in reliable mode the loop deletes
    * each round's files itself once the next round has materialized —
    * only the final round's files, which back the returned DataFrame,
    * outlive the call. Reliable mode assumes the checkpoint directory is
    * not shared with concurrently-checkpointing jobs.) */
  def components(nodes: DataFrame, idCol: String,
                 edges: DataFrame, srcCol: String, dstCol: String,
                 maxRounds: Int = 50): DataFrame = {
    // Singletons (no incident edge) never enter the loop: one left
    // join stamps them with their own id. The converged label table is
    // the small side; at dedup-shaped edge densities AQE broadcasts it.
    nodes.select(col(idCol).as("id"))
      .join(componentsOfEdges(edges, srcCol, dstCol, maxRounds)
          .withColumnRenamed("id", "_aid"),
        col("id") === col("_aid"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** [[components]] restricted to the EDGE-TOUCHED node set — (id,
    * comp) for exactly the nodes an edge names (r19): the min-label
    * loop already runs over that set (its round-0 aggregation keys are
    * the symmetrized edge endpoints), so contraction consumers — whose
    * node set IS the edge set's endpoints — skip both the caller-side
    * `touched` union+distinct and the singleton stamp join that
    * [[components]] adds for general node sets. */
  def componentsOfEdges(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 50): DataFrame = {
    require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
    // Reliable when the session has a checkpoint dir (survives executor
    // loss), executor-local otherwise (no dir needed) — see scaladoc. In
    // reliable mode each round's files are deleted once the NEXT round
    // has materialized (Spark's cleaner never deletes reliable
    // checkpoints by default — a 50-round run would otherwise leave 50
    // full label-table copies in the checkpoint store).
    val sc = edges.sparkSession.sparkContext
    // getCheckpointDir already points at this context's UUID-scoped
    // subdirectory; its direct children are the per-RDD checkpoint dirs.
    def listCkpt(): Set[String] = sc.getCheckpointDir.map { base =>
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      if (!fs.exists(p)) Set.empty[String]
      else fs.listStatus(p).map(_.getPath.toString).toSet
    }.getOrElse(Set.empty)
    var lastRoundPaths = Set.empty[String]
    def checkpointRound(df: DataFrame): DataFrame =
      if (sc.getCheckpointDir.isEmpty) df.localCheckpoint()
      else {
        val pre = listCkpt()
        val out = df.checkpoint() // eager — prior round is now unreferenced
        val mine = listCkpt() -- pre
        (lastRoundPaths -- mine).foreach { s =>
          val p = new org.apache.hadoop.fs.Path(s)
          p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
        }
        lastRoundPaths = mine
        out
      }
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val e = e0.union(e0.select(col("b"), col("a")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ACTIVE-NODE restriction (r10): only nodes an edge touches can ever
    // leave their self-label — singletons are fixpoints from round 0. So
    // the iterative loop runs over the edge-touched node set (for dedup
    // graphs a small fraction of the corpus: LSH emits few candidate
    // pairs relative to documents), and untouched nodes rejoin as
    // singleton components at the end. Per-round shuffle width then
    // scales with the DUPLICATE GRAPH, not the corpus — at 100 TB the
    // difference between iterating over ~10⁹ label rows and over the
    // ~10⁷ that are actually in play. `a` already covers both endpoints
    // (e is symmetrized).
    // Round-0 fusion (r10): with self-labels, the first round's neighbor
    // min is just min(neighbor id) — computable straight off the edge
    // list with no label join. Initializing labels to least(id, min(b))
    // folds a whole round (join + jump + convergence count) into one
    // aggregation; the grouping also yields the active-node set for
    // free (`a` covers both endpoints — e is symmetrized).
    var labels = checkpointRound(
      e.groupBy(col("a").as("id")).agg(min(col("b")).as("_nb"))
        .select(col("id"), least(col("id"), col("_nb")).as("comp")))
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // Neighbor min: the smallest label adjacent to each node this round.
      val nbrMin = e.join(labels, e("b") === labels("id"))
        .groupBy(col("a").as("id2")).agg(min(col("comp")).as("nbr_min"))
      val stepped = labels.join(nbrMin, labels("id") === nbrMin("id2"), "left")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"))
      // Pointer jump: l(x) ← min(l(x), l(l(x))) — follow the label's own
      // label so long chains halve every round. (A DOUBLE jump per round
      // — log₄ convergence — was tried in r11 and measured WORSE on
      // every CC consumer (dup_clusters 2.3→2.9 s, er_pipeline
      // 4.0→6.0 s at sf0.1): dedup-shaped graphs converge in 2-3 rounds
      // either way, so the second self-join per round is pure added
      // shuffle, not saved rounds. Single jump is the right trade.)
      val byId = stepped.select(col("id").as("jid"), col("comp").as("jcomp"))
      // Convergence probe rides the round's own materializing job via a
      // task-side accumulator (r17 — one Spark job per round, not
      // checkpoint-then-count; the Materialize.withAny discipline).
      // Only zero vs non-zero is read, so retried/speculative tasks
      // double-counting is harmless; the probe UDF is non-deterministic
      // so the optimizer can neither fold nor elide it, and every
      // changed row is deterministic join output, so a zero accumulator
      // after an all-tasks-succeeded action means no row changed.
      val acc = sc.longAccumulator("graft_cc_changed")
      val probe = udf { (c: Boolean) =>
        if (c) acc.add(1L)
        c
      }.asNondeterministic()
      val next = checkpointRound( // eager: materializes the round, truncates lineage
        stepped.join(byId, stepped("comp") === byId("jid"), "left")
          .select(stepped("id"), stepped("prev"),
            least(stepped("comp"), coalesce(col("jcomp"), stepped("comp"))).as("comp"))
          .select(col("id"), col("comp"),
            probe(col("comp") =!= col("prev")).as("changed")))
      converged = acc.value == 0L
      labels = next.select(col("id"), col("comp"))
      round += 1
    }
    e.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds rounds")
    labels
  }
}

/** Driver-checked query for duplicate clustering (oracle: the same MinHash
  * pair pipeline in DuckDB, closed under a recursive CTE — DuckDB computes
  * true transitive reachability, so any propagation bug here breaks the
  * hash). */
object DedupClusters {

  /** Clustering core, the ONE implementation behind both the driver query
    * and [[graft.api.Graft.dupClusters]]: cluster documents by MinHash
    * near-duplicate connectivity — every document gets its cluster's
    * canonical id (the minimum id in its component; singletons are their
    * own cluster), the cluster size, and a `keep` flag marking the one
    * representative to retain. */
  /** Close ANY undirected pair set under transitive connectivity and
    * report (id, component, cluster_size, keep) — the shared tail of the
    * text and embedding cluster operators (same min-label + pointer-jump
    * engine, so the 100 TB properties — per-round checkpointing, bounded
    * driver traffic — hold for every pair source). */
  private[graft] def clustersFromPairs(nodes: DataFrame, idCol: String,
      pairs: DataFrame, srcCol: String, dstCol: String): DataFrame =
    ConnectedComponents.components(nodes, idCol, pairs, srcCol, dstCol)
      .select(col("id").as(idCol), col("comp").as("component"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .withColumn("keep", col(idCol) === col("component"))

  private[graft] def clusters(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    graft.functions.TextHash.ensureRegistered(docs.sparkSession)
    val pairs = LlmQueries.minhashPairsUnordered(docs, idCol, textCol, threshold)
      .select(col("doc_a"), col("doc_b"))
    clustersFromPairs(docs.select(col(idCol)), idCol, pairs, "doc_a", "doc_b")
  }

  /** Embedding-space duplicate clustering: the sign-sketch near-dup
    * pairs ([[LlmQueries.embNearDupPairsCore]]) closed under transitive
    * connectivity — semantic dedup's cluster step (one representative
    * per group of re-encodes/near-copies). */
  private[graft] def embClusters(vectors: DataFrame, idCol: String,
      vecCol: String, planes: Int, threshold: Double): DataFrame = {
    val pairs = LlmQueries
      .embNearDupPairsCore(vectors, idCol, vecCol, planes, threshold)
      .select(col("vec_a"), col("vec_b"))
    clustersFromPairs(vectors.select(col(idCol)), idCol, pairs,
      "vec_a", "vec_b")
  }

  /** Quality-based canonical representative per near-dup cluster — the
    * "keep the BEST copy" policy production dedup actually wants (the
    * plain `keep = min id` of [[clustersFromPairs]] keeps whichever copy
    * happened to be crawled first; this keeps the longest). `rep_id` =
    * the cluster member with max `qualityCol`, ties to the smallest id —
    * a total order, so the choice is deterministic and engine-portable.
    *
    * 100 TB shape: the CC labels are already computed; the rep choice
    * adds ONE component-keyed aggregation (argmax as a lexicographic
    * struct max — partial+final, no window over members) and one
    * broadcast-back join of the comps-sized rep table. The quality join
    * shuffles (id, quality) pairs only — document text never moves. */
  private[graft] def clusterRepresentatives(docs: DataFrame, idCol: String,
      textCol: String, qualityCol: String, threshold: Double): DataFrame = {
    val labeled = clusters(docs, idCol, textCol, threshold)
      .select(col(idCol), col("component"), col("cluster_size"))
      .join(docs.select(col(idCol), col(qualityCol)), Seq(idCol))
    // argmax(quality, then min id) = struct max over (quality, -id)
    val reps = labeled
      .groupBy(col("component"))
      .agg(max(struct(col(qualityCol).as("_q"), (-col(idCol)).as("_nid")))
        .as("_best"))
      .select(col("component"), (-col("_best._nid")).as("rep_id"))
    labeled.join(reps, Seq("component"))
      .select(col(idCol), col("component"), col("cluster_size"),
        col(qualityCol), col("rep_id"),
        (col(idCol) === col("rep_id")).as("keep"))
  }

  /** INCREMENTAL cluster maintenance (r11): yesterday's cluster labels +
    * today's batch-touching pairs → today's labels, WITHOUT re-pairing
    * the old corpus against itself — the IVM step that completes the
    * incremental-dedup story (`q_dedup_increment` discovers the new
    * PAIRS cheaply; this folds them into the maintained CLUSTER state).
    *
    * The old state enters by CONTRACTION
    * ([[ConnectedComponents.closeWithNewEdges]], r13 — shared with the
    * ER increments): new pairs map to their endpoints' current
    * components, the closure runs over the contracted component graph,
    * and only touched components relabel. Refining a converged partition
    * by new edges ≡ closing the contracted graph, so the result EQUALS a
    * full recompute over all pairs — increment ≡ recompute is the
    * invariant, and the oracle (the full recursive-CTE recompute) checks
    * it literally, min-ids and all.
    *
    * 100 TB shape: pair DISCOVERY — the expensive half — is batch-scoped
    * (|batch| × bucket band probes, `minhashPairsTouching`; production
    * probes the persisted signature index, the demo recomputes corpus
    * signatures like q_dedup_increment). The CC loop's edge list is the
    * O(|new pairs|) contracted graph — never the corpus, and no longer
    * even the old duplicate graph. */
  private[graft] def clustersIncrement(nodes: DataFrame, idCol: String,
      labels: DataFrame, newPairs: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    // Nodes absent from yesterday's labels (the incoming batch) seed as
    // singletons; the closure then runs by CONTRACTION over the O(batch)
    // component graph (r13 — replaces star-edge re-entry, which dragged
    // one edge per non-singleton member through every CC round).
    val seeded = ConnectedComponents.seedLabels(nodes.select(col(idCol)),
      labels.select(col(idCol), col("component")))
    ConnectedComponents.closeWithNewEdges(seeded,
        newPairs.select(col(srcCol).as("e1"), col(dstCol).as("e2")))
      .select(col("id").as(idCol), col("comp").as("component"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .withColumn("keep", col(idCol) === col("component"))
  }

  /** RETRACTION for maintained dedup clusters (r13 — the takedown leg,
    * twin of [[FuzzyJoin.resolveRetract]]): remove a batch of documents
    * from yesterday's cluster state WITHOUT re-pairing or re-closing the
    * corpus. A deleted doc can SPLIT its cluster (it may be the bridge),
    * so exactly the components containing a deleted doc re-close from
    * their kept pairs; every other label survives verbatim. Exact
    * because pair discovery is PER-PAIR (two docs' band collision does
    * not depend on any third doc), so the kept pair set equals the
    * from-scratch pair set over the survivors — retraction ≡
    * recompute-on-survivors, and the oracle checks it literally.
    *
    * 100 TB shape: two anti-joins prune the pair log (linear, id-only),
    * the affected-component set is O(deleted batch), and the CC runs
    * over only those components' kept pairs. Takedown cost follows the
    * deletion, not the corpus. */
  private[graft] def clustersRetract(labels: DataFrame, idCol: String,
      pairs: DataFrame, srcCol: String, dstCol: String,
      deleted: DataFrame, delCol: String): DataFrame = {
    val del = deleted.select(col(delCol).as("_did"))
    val keptPairs = Materialize(pairs
      .join(del, col(srcCol) === col("_did"), "left_anti")
      .join(del, col(dstCol) === col("_did"), "left_anti"))
    val affected = Materialize(labels
      .join(del, col(idCol) === col("_did"), "left_semi")
      .select(col("component")).distinct())
    val keptLabels = labels.join(del, col(idCol) === col("_did"), "left_anti")
    val subNodes = keptLabels.join(affected, Seq("component"), "left_semi")
      .select(col(idCol))
    // Both endpoints of a kept pair share a component, so filtering on
    // one endpoint scopes the pair to the affected components exactly.
    val subPairs = keptPairs.join(subNodes.select(col(idCol).as(srcCol)),
      Seq(srcCol), "left_semi")
    val subLabels = ConnectedComponents
      .components(subNodes, idCol, subPairs, srcCol, dstCol)
      .select(col("id").as(idCol), col("comp").as("component"))
    keptLabels.join(affected, Seq("component"), "left_anti")
      .select(col(idCol), col("component"))
      .unionByName(subLabels)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .withColumn("keep", col(idCol) === col("component"))
  }

  /** Build-once label fixture for [[qClusterIncrement]]: yesterday's
    * cluster state (the corpus minus the incoming `doc_id % 5 = 4`
    * batch), persisted as parquet — standing in for the previous run's
    * label table (the [[graft.operators.CdcQueries]] MvBase discipline;
    * first call in a JVM pays the build, covered by the bench warm-up). */
  private[graft] object LabelBase {
    def ensure(s: SparkSession, d: String): String = {
      val root = FixtureBase.ensure("graft_label_base", 1, d,
          Seq("labels_old")) { r =>
        clusters(
            Tables.spread(s, Tables.documents(s, d))
              .filter(expr("doc_id % 5 <> 4")),
            "doc_id", "text", LlmQueries.JaccardThreshold)
          .select(col("doc_id"), col("component"))
          .write.mode("overwrite").parquet(s"$r/labels_old")
      }
      s"$root/labels_old"
    }

    /** Full-corpus state for [[qClusterRetract]]: the pair log AND the
      * converged labels over ALL documents — what a finished maintenance
      * run persists, and the state retraction starts from. */
    def ensureAll(s: SparkSession, d: String): (String, String) = {
      val root = FixtureBase.ensure("graft_label_base", 1, d,
          Seq("pairs_all", "labels_all")) { r =>
        graft.functions.TextHash.ensureRegistered(s)
        val docs = Tables.spread(s, Tables.documents(s, d))
        LlmQueries.minhashPairsUnordered(docs, "doc_id", "text",
            LlmQueries.JaccardThreshold)
          .select(col("doc_a"), col("doc_b"))
          .write.mode("overwrite").parquet(s"$r/pairs_all")
        clustersFromPairs(docs.select(col("doc_id")), "doc_id",
            s.read.parquet(s"$r/pairs_all"), "doc_a", "doc_b")
          .select(col("doc_id"), col("component"))
          .write.mode("overwrite").parquet(s"$r/labels_all")
      }
      (s"$root/pairs_all", s"$root/labels_all")
    }
  }

  /** State for [[qEmbClusterIncrement]]: the sign-sketch PLANES (fixed at
    * index creation — plane identity IS index identity, see
    * [[LlmQueries.derivePlanes]]) and the converged labels of the corpus
    * minus the incoming `vec_id % 5 = 4` batch. */
  private[graft] object EmbLabelBase {
    def ensure(s: SparkSession, d: String): (String, String) = {
      val root = FixtureBase.ensure("graft_emb_label_base", 1, d,
          Seq("planes", "labels")) { r =>
        val old = Tables.spread(s, Tables.embeddings(s, d))
          .filter(expr("vec_id % 5 <> 4"))
        LlmQueries.derivePlanes(old, "vec_id", "embedding", 6)
          .write.mode("overwrite").parquet(s"$r/planes")
        val pairs = LlmQueries.embPairsWithPlanes(old, "vec_id",
            "embedding", s.read.parquet(s"$r/planes"), 0.35)
          .select(col("vec_a"), col("vec_b"))
        clustersFromPairs(old.select(col("vec_id")), "vec_id", pairs,
            "vec_a", "vec_b")
          .select(col("vec_id"), col("component"))
          .write.mode("overwrite").parquet(s"$r/labels")
      }
      (s"$root/planes", s"$root/labels")
    }

    /** Full-corpus state for [[qEmbClusterRetract]]: the pair log AND
      * converged labels over ALL vectors, discovered under the planes
      * fixed at index creation (the FULL corpus's 6 lowest ids — one of
      * which, `vec_id = 3`, is itself in the takedown batch: the plane
      * SURVIVES its source vector's deletion, because plane identity is
      * index identity, not corpus membership). */
    def ensureAll(s: SparkSession, d: String): (String, String) = {
      val root = FixtureBase.ensure("graft_emb_label_base", 1, d,
          Seq("pairs_all", "labels_all")) { r =>
        val vecs = Tables.spread(s, Tables.embeddings(s, d))
        LlmQueries.embNearDupPairsCore(vecs, "vec_id", "embedding", 6, 0.35)
          .select(col("vec_a"), col("vec_b"))
          .write.mode("overwrite").parquet(s"$r/pairs_all")
        clustersFromPairs(vecs.select(col("vec_id")), "vec_id",
            s.read.parquet(s"$r/pairs_all"), "vec_a", "vec_b")
          .select(col("vec_id"), col("component"))
          .write.mode("overwrite").parquet(s"$r/labels_all")
      }
      (s"$root/pairs_all", s"$root/labels_all")
    }
  }

  /** Batch increment for EMBEDDING clusters (r13 — completes the
    * increment matrix: text batch+stream, embedding stream, now
    * embedding batch): the new vector batch sketches under the INDEX'S
    * planes (never re-derived — re-deriving would re-bucket the corpus
    * and zero recall), pair discovery probes only batch-touching buckets
    * (old-old pairs are already in state), and the closure advances by
    * the shared contraction. Increment ≡ recompute-under-fixed-planes —
    * the documented index discipline — and the oracle recomputes with
    * exactly the old corpus's plane set. */
  private def qEmbClusterIncrement(s: SparkSession, d: String): DataFrame = {
    val (planesPath, labelsPath) = EmbLabelBase.ensure(s, d)
    val vecs = Tables.spread(s, Tables.embeddings(s, d))
    val newPairs = LlmQueries.embPairsWithPlanes(vecs, "vec_id",
        "embedding", s.read.parquet(planesPath), 0.35,
        touching = Some(vecs.filter(expr("vec_id % 5 = 4"))
          .select(col("vec_id"))))
      .select(col("vec_a"), col("vec_b"))
    clustersIncrement(vecs.select(col("vec_id")), "vec_id",
        s.read.parquet(labelsPath).select(col("vec_id"), col("component")),
        newPairs, "vec_a", "vec_b")
      .orderBy(col("vec_id"))
  }

  private def qClusterIncrement(s: SparkSession, d: String): DataFrame = {
    graft.functions.TextHash.ensureRegistered(s)
    val docs = Tables.spread(s, Tables.documents(s, d))
    val labels = s.read.parquet(LabelBase.ensure(s, d))
    val newPairs = LlmQueries.minhashPairsTouching(docs, "doc_id", "text",
        docs.filter(expr("doc_id % 5 = 4")).select(col("doc_id")),
        LlmQueries.JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    clustersIncrement(docs.select(col("doc_id")), "doc_id", labels,
        newPairs, "doc_a", "doc_b")
      .orderBy(col("doc_id"))
  }

  /** RETRACTION for EMBEDDING clusters (r13 — completes the maintenance
    * matrix: text and embedding clusters each have batch increment,
    * streaming increment, and takedown): remove `vec_id % 7 = 3` from the
    * persisted (pair log, labels) state via the SAME shared
    * [[clustersRetract]] engine — two anti-joins prune the pair log,
    * only deleted-touching components re-close. Exact for the same
    * reason as text: under the index's FIXED planes, two vectors'
    * bucket collision and cosine verification are independent of any
    * third vector, so the kept pair set ≡ the from-scratch pair set
    * over survivors UNDER THOSE PLANES. The takedown batch includes
    * `vec_id = 3` — a plane-source vector — and the planes survive it
    * (plane identity is index identity, not corpus membership; the
    * oracle recomputes under the ORIGINAL full-corpus plane set to
    * check exactly that). */
  private def qEmbClusterRetract(s: SparkSession, d: String): DataFrame = {
    val (pairsPath, labelsPath) = EmbLabelBase.ensureAll(s, d)
    val deleted = Tables.embeddings(s, d)
      .filter(expr("vec_id % 7 = 3")).select(col("vec_id"))
    clustersRetract(s.read.parquet(labelsPath), "vec_id",
        s.read.parquet(pairsPath), "vec_a", "vec_b", deleted, "vec_id")
      .orderBy(col("vec_id"))
  }

  /** Driver binding of [[clustersRetract]]: take down `doc_id % 7 = 3`
    * (~14%, orthogonal to the increment's %5 split) from the
    * full-corpus state. */
  private def qClusterRetract(s: SparkSession, d: String): DataFrame = {
    val (pairsPath, labelsPath) = LabelBase.ensureAll(s, d)
    val deleted = Tables.documents(s, d)
      .filter(expr("doc_id % 7 = 3")).select(col("doc_id"))
    clustersRetract(s.read.parquet(labelsPath), "doc_id",
        s.read.parquet(pairsPath), "doc_a", "doc_b", deleted, "doc_id")
      .orderBy(col("doc_id"))
  }

  private def qDupClusters(s: SparkSession, d: String): DataFrame =
    clusters(Tables.spread(s, Tables.documents(s, d)), "doc_id", "text",
        LlmQueries.JaccardThreshold)
      .orderBy(col("doc_id"))

  private def qClusterRep(s: SparkSession, d: String): DataFrame =
    clusterRepresentatives(Tables.spread(s, Tables.documents(s, d)),
        "doc_id", "text", "n_chars", LlmQueries.JaccardThreshold)
      .orderBy(col("doc_id"))

  private def qEmbClusters(s: SparkSession, d: String): DataFrame =
    embClusters(Tables.spread(s, Tables.embeddings(s, d)),
        "vec_id", "embedding", planes = 6, threshold = 0.35)
      .orderBy(col("vec_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cluster_increment" -> qClusterIncrement _,
    "q_cluster_retract" -> qClusterRetract _,
    "q_emb_cluster_increment" -> qEmbClusterIncrement _,
    "q_emb_cluster_retract" -> qEmbClusterRetract _,
    "q_dup_clusters" -> qDupClusters _,
    "q_emb_clusters" -> qEmbClusters _,
    "q_cluster_rep" -> qClusterRep _
  )

  /** Shared by `q_dup_clusters` AND `q_cluster_increment`: the increment's
    * whole claim is increment ≡ full recompute, so its oracle IS the
    * recompute — one string, zero drift. */
  private val dupClustersOracle: String =
    s"""WITH RECURSIVE ${LlmQueries.minhashPairsCte},
       |pairs_ok AS (
       |  SELECT doc_a, doc_b FROM j
       |  WHERE jaccard >= ${LlmQueries.JaccardThreshold}),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs_ok
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs_ok),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.id = e.a),
       |comp AS (
       |  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
       |SELECT doc_id, component,
       |       count(*) OVER (PARTITION BY component) AS cluster_size,
       |       doc_id = component AS keep
       |FROM comp ORDER BY doc_id""".stripMargin

  /** `q_cluster_retract`'s oracle: the SAME recursive recompute, over
    * the survivor corpus only — retraction ≡ recompute-on-survivors. */
  private val clusterRetractOracle: String = {
    val survivors = "(SELECT * FROM documents WHERE NOT (doc_id % 7 = 3))"
    s"""WITH RECURSIVE ${LlmQueries.minhashPairsCteFrom(survivors)},
       |pairs_ok AS (
       |  SELECT doc_a, doc_b FROM j
       |  WHERE jaccard >= ${LlmQueries.JaccardThreshold}),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs_ok
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs_ok),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents WHERE NOT (doc_id % 7 = 3)
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.id = e.a),
       |comp AS (
       |  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
       |SELECT doc_id, component,
       |       count(*) OVER (PARTITION BY component) AS cluster_size,
       |       doc_id = component AS keep
       |FROM comp ORDER BY doc_id""".stripMargin
  }

  /** `q_emb_cluster_increment`'s oracle: the full recompute under the
    * INDEX'S plane set (the 6 lowest ids of the OLD corpus, pid by rank
    * — exactly [[LlmQueries.derivePlanes]] over the pre-batch state).
    * Increment ≡ recompute-under-fixed-planes is the persisted-index
    * discipline being checked. */
  private val embClusterIncrementOracle: String = {
    val cos = "round(list_dot_product(a.v, b.v) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |planes AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pid, v AS pv
       |  FROM e WHERE vec_id % 5 <> 4 ORDER BY vec_id LIMIT 6),
       |sk AS (
       |  SELECT e.vec_id, e.v,
       |         cast(sum(CASE WHEN list_dot_product(e.v, pv) > 0
       |                       THEN cast(pow(2, pid) AS bigint) ELSE 0 END) AS bigint) AS sketch
       |  FROM e, planes GROUP BY e.vec_id, e.v),
       |p AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM sk a JOIN sk b ON a.sketch = b.sketch AND a.vec_id < b.vec_id
       |  WHERE $cos >= 0.35),
       |edges AS (
       |  SELECT va AS a, vb AS b FROM p
       |  UNION ALL
       |  SELECT vb AS a, va AS b FROM p),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e2.b, reach.r FROM reach JOIN edges e2 ON reach.id = e2.a),
       |comp AS (
       |  SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id)
       |SELECT vec_id, component,
       |       count(*) OVER (PARTITION BY component) AS cluster_size,
       |       vec_id = component AS keep
       |FROM comp ORDER BY vec_id""".stripMargin
  }

  /** `q_emb_cluster_retract`'s oracle: the full recompute over the
    * SURVIVOR vectors under the ORIGINAL full-corpus plane set (vec_id
    * < 6 — including the deleted vec_id 3's plane: plane identity is
    * index identity). Retraction ≡ recompute-on-survivors-under-fixed-
    * planes is the exactness claim being checked literally. */
  private val embClusterRetractOracle: String = {
    val cos = "round(list_dot_product(a.v, b.v) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |planes AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 6),
       |surv AS (SELECT * FROM e WHERE NOT (vec_id % 7 = 3)),
       |sk AS (
       |  SELECT surv.vec_id, surv.v,
       |         cast(sum(CASE WHEN list_dot_product(surv.v, pv) > 0
       |                       THEN cast(pow(2, pid) AS bigint) ELSE 0 END) AS bigint) AS sketch
       |  FROM surv, planes GROUP BY surv.vec_id, surv.v),
       |p AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM sk a JOIN sk b ON a.sketch = b.sketch AND a.vec_id < b.vec_id
       |  WHERE $cos >= 0.35),
       |edges AS (
       |  SELECT va AS a, vb AS b FROM p
       |  UNION ALL
       |  SELECT vb AS a, va AS b FROM p),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM embeddings WHERE NOT (vec_id % 7 = 3)
       |  UNION
       |  SELECT e2.b, reach.r FROM reach JOIN edges e2 ON reach.id = e2.a),
       |comp AS (
       |  SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id)
       |SELECT vec_id, component,
       |       count(*) OVER (PARTITION BY component) AS cluster_size,
       |       vec_id = component AS keep
       |FROM comp ORDER BY vec_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_cluster_increment" -> dupClustersOracle,
    "q_cluster_retract" -> clusterRetractOracle,
    "q_emb_cluster_increment" -> embClusterIncrementOracle,
    "q_emb_cluster_retract" -> embClusterRetractOracle,
    "q_dup_clusters" -> dupClustersOracle,
    "q_cluster_rep" ->
      s"""WITH RECURSIVE ${LlmQueries.minhashPairsCte},
         |pairs_ok AS (
         |  SELECT doc_a, doc_b FROM j
         |  WHERE jaccard >= ${LlmQueries.JaccardThreshold}),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs_ok
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM pairs_ok),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.id = e.a),
         |comp AS (
         |  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
         |labeled AS (
         |  SELECT c.doc_id, c.component,
         |         count(*) OVER (PARTITION BY c.component) AS cluster_size,
         |         d.n_chars
         |  FROM comp c JOIN documents d USING (doc_id)),
         |reps AS (
         |  SELECT component, doc_id AS rep_id FROM labeled
         |  QUALIFY row_number() OVER (PARTITION BY component
         |                             ORDER BY n_chars DESC, doc_id) = 1)
         |SELECT l.doc_id, l.component, l.cluster_size, l.n_chars, r.rep_id,
         |       l.doc_id = r.rep_id AS keep
         |FROM labeled l JOIN reps r USING (component)
         |ORDER BY l.doc_id""".stripMargin,
    "q_emb_clusters" -> {
      val cos = "round(list_dot_product(a.v, b.v) / " +
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |planes AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 6),
         |sk AS (
         |  SELECT e.vec_id, e.v,
         |         cast(sum(CASE WHEN list_dot_product(e.v, pv) > 0
         |                       THEN cast(pow(2, pid) AS bigint) ELSE 0 END) AS bigint) AS sketch
         |  FROM e, planes GROUP BY e.vec_id, e.v),
         |p AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM sk a JOIN sk b ON a.sketch = b.sketch AND a.vec_id < b.vec_id
         |  WHERE $cos >= 0.35),
         |edges AS (
         |  SELECT va AS a, vb AS b FROM p
         |  UNION ALL
         |  SELECT vb AS a, va AS b FROM p),
         |reach(id, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e2.b, reach.r FROM reach JOIN edges e2 ON reach.id = e2.a),
         |comp AS (
         |  SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id)
         |SELECT vec_id, component,
         |       count(*) OVER (PARTITION BY component) AS cluster_size,
         |       vec_id = component AS keep
         |FROM comp ORDER BY vec_id""".stripMargin
    }
  )
}
