package perfbench

import graft.cdc._
import scala.collection.mutable

/** The benchmark's checks of the program's outputs, against what the
  * benchmark computed itself. Each returns the mismatches it found
  * (empty = correct); the tests feed each one corrupted outputs. */
object Checks {

  private def same(exp: Any, got: Any): Boolean =
    (exp == null && got == null) ||
      (exp != null && got != null && exp.getClass == got.getClass && exp == got)

  /** Decoded records against the generator's records, one by one: record
    * kind, header fields, and every column name and value (type included). */
  def decode(exp: Seq[Expected], got: Seq[CdcRecord]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (exp.length != got.length)
      errs += s"${got.length} records decoded, ${exp.length} written"
    exp.iterator.zip(got.iterator).zipWithIndex.foreach { case ((e, g), i) =>
      val ok = (e.number, g) match {
        case (Wire.TABSCHEM, t: TabSchema) =>
          t.tabid == AllTypesStream.Tabid && t.colsDesc == Wire.colsDesc(Wire.AllTypes)
        case (Wire.BEGIN, b: BeginTx) =>
          b.seqNumber == e.seq && b.transactionId == e.txid && b.startTime == e.a && b.userId == e.b
        case (Wire.COMMIT, c: CommitTx) =>
          c.seqNumber == e.seq && c.transactionId == e.txid && c.commitTime == e.a
        case (Wire.ROLLBACK, r: RollbackTx) => r.seqNumber == e.seq && r.transactionId == e.txid
        case (Wire.DISCARD, d: DiscardTx) => d.seqNumber == e.seq && d.transactionId == e.txid
        case (Wire.TRUNCATE, t: TruncateTab) =>
          t.seqNumber == e.seq && t.transactionId == e.txid && t.tabid == e.a
        case (Wire.TIMEOUT, t: TimeoutBeat) => t.seqNumber == e.seq
        case (n, r: RowImage) if r.recordNumber == n =>
          r.seqNumber == e.seq && r.transactionId == e.txid &&
            r.tabid == AllTypesStream.Tabid && r.columns.length == e.values.length &&
            r.columns.indices.forall { c =>
              r.columns(c).name == Wire.AllTypes(c).name && same(e.values(c), r.columns(c).value)
            }
        case _ => false
      }
      if (!ok) errs += s"record $i: wrote $e, decoded $g"
    }
    errs.result()
  }

  /** The materialized table against the generator's model of the latest
    * committed image per key: every live key present once with its exact
    * values; no other key (rolled back, deleted, or never written). */
  def materialized(model: Map[Long, MatRow], got: Seq[MatRow]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val byKey = got.groupBy(_.k)
    byKey.foreach { case (k, rows) =>
      if (rows.size > 1) errs += s"key $k appears ${rows.size} times"
      model.get(k) match {
        case None => errs += s"key $k is in the table but not live in the model: ${rows.head}"
        case Some(m) if !rows.forall(_ == m) => errs += s"key $k: table ${rows.head}, model $m"
        case _ =>
      }
    }
    model.keys.filterNot(byKey.contains)
      .foreach(k => errs += s"key $k missing from the table (model ${model(k)})")
    errs.result()
  }

  /** Smallest id of each id's component in the graph of `pairs`, by the
    * benchmark's own union-find. */
  def components(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    ids.foreach(i => parent(i) = i)
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (parent(y) != root) { val nx = parent(y); parent(y) = root; y = nx }
      root
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.map(i => i -> find(i)).toMap
  }

  /** The label maintainer's outputs: every logged pair really similar, each
    * label the smallest id of its component in the logged pair graph, the
    * streamed labels equal to the batch recompute, and no cluster spanning
    * two vocabularies. Planted groups are checked by [[splitMembers]]. */
  def labels(pairs: Seq[(Long, Long)], got: Seq[Label], recompute: Seq[Label],
             ids: Seq[Long], shingles: Map[Long, Set[String]], family: Map[Long, Int],
             threshold: Double): Seq[String] = {
    val errs = Seq.newBuilder[String]
    pairs.foreach { case (a, b) =>
      if (!shingles.contains(a) || !shingles.contains(b)) errs += s"pair ($a, $b) names an unknown document"
      else {
        val j = ClusterLabels.jaccard(shingles(a), shingles(b))
        if (j < threshold) errs += f"pair ($a, $b) logged with Jaccard $j%.4f < $threshold"
      }
    }
    val known = pairs.filter { case (a, b) => shingles.contains(a) && shingles.contains(b) }
    val comp = components(ids, known)
    val size = comp.values.groupBy(identity).map { case (c, m) => c -> m.size.toLong }
    val expected = ids.map(i => Label(i, comp(i), size(comp(i)), i == comp(i))).toSet
    val byId = got.groupBy(_.id)
    byId.foreach { case (i, ls) => if (ls.size > 1) errs += s"document $i labelled ${ls.size} times" }
    val gotSet = got.toSet
    (expected -- gotSet).foreach(l => errs += s"expected label $l, got ${byId.get(l.id).map(_.head)}")
    (gotSet -- expected).foreach(l => errs += s"label $l not implied by the logged pairs")
    if (gotSet != recompute.toSet)
      errs += s"streamed labels differ from dupClusters on ${(gotSet diff recompute.toSet).size + (recompute.toSet diff gotSet).size} rows"
    got.groupBy(_.component).foreach { case (c, ls) =>
      if (ls.map(l => family.get(l.id)).distinct.size > 1)
        errs += s"cluster $c joins documents of disjoint vocabularies"
    }
    errs.result()
  }

  /** The members of each planted group that are not in the group's cluster
    * (the cluster most of its members are in; ties go to the smaller
    * component id), with the group they belong to. */
  def splitMembers(got: Seq[Label], planted: Seq[Seq[Long]]): Seq[(Long, Seq[Long])] = {
    val compOf = got.map(l => l.id -> l.component).toMap
    planted.flatMap { g =>
      val comps = g.map(compOf.get)
      val main = comps.groupBy(identity).toSeq
        .minBy { case (c, m) => (-m.size, c.getOrElse(Long.MaxValue)) }._1
      g.zip(comps).collect { case (m, c) if c != main || c.isEmpty => m -> g }
    }
  }
}
