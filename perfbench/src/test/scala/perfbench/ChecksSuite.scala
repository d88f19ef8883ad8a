package perfbench

import graft.cdc._
import org.scalatest.funsuite.AnyFunSuite

/** Each of the benchmark's checks accepts the program's real output and
  * rejects a corrupted copy of it. */
class ChecksSuite extends AnyFunSuite {

  // ------------------------------------------------------------ decode_stream

  private val exp = AllTypesStream.chunk(seed = 5, i = 0, rows = 200)
  private val got = DecodeStream.decodeChunk(
    AllTypesStream.pieces(AllTypesStream.encode(exp), CdcConfig().loReadSz))

  test("decode check accepts the program's decode of the generated stream") {
    assert(Checks.decode(exp, got).isEmpty)
  }

  test("decode check rejects a changed value") {
    val i = got.indexWhere(_.isInstanceOf[RowImage])
    val img = got(i).asInstanceOf[RowImage]
    val c = img.columns.indexWhere(_.value.isInstanceOf[java.lang.Long])
    val bad = img.copy(columns = img.columns.updated(c,
      img.columns(c).copy(value = img.columns(c).value.asInstanceOf[Long] ^ 1L)))
    assert(Checks.decode(exp, got.updated(i, bad)).nonEmpty)
  }

  test("decode check rejects a value of the wrong type") {
    val i = got.indexWhere(_.isInstanceOf[RowImage])
    val img = got(i).asInstanceOf[RowImage]
    val c = img.columns.indexWhere(_.value.isInstanceOf[java.lang.Short])
    val s = img.columns(c).value.asInstanceOf[Short]
    val bad = img.copy(columns = img.columns.updated(c, img.columns(c).copy(value = s.toInt)))
    assert(Checks.decode(exp, got.updated(i, bad)).nonEmpty)
  }

  test("decode check rejects a missing record") {
    val i = got.indexWhere(_.isInstanceOf[CommitTx])
    assert(Checks.decode(exp, got.patch(i, Nil, 1)).nonEmpty)
  }

  // --------------------------------------------------------------- cdc_ingest

  private val gen = new CdcStreamGen(seed = 9, chunks = 4, txnsPerChunk = 80)
  private val table = gen.model.values.toSeq

  test("the generated stream has every make-up the workload names") {
    val all = gen.committedByChunk.flatten
    assert(all.exists(_.op == "delete"))
    assert(all.exists(_.oldV.isDefined))                   // UPDBEF/UPDAFT pairs
    assert(gen.rolledBack.nonEmpty)
    assert(gen.files.map(_._1).exists(_.endsWith("r.bin"))) // a chunk delivered twice
    assert(gen.files.map(_._1) == gen.files.map(_._1).sorted)
  }

  test("materialized check accepts the model's own table") {
    assert(Checks.materialized(gen.model, table).isEmpty)
  }

  test("materialized check rejects a changed value") {
    val r = table.find(_.v.isDefined).get
    assert(Checks.materialized(gen.model, table.map(x =>
      if (x == r) x.copy(v = Some(r.v.get + 1)) else x)).nonEmpty)
  }

  test("materialized check rejects a dropped key") {
    assert(Checks.materialized(gen.model, table.tail).nonEmpty)
  }

  test("materialized check rejects a resurrected rolled-back row") {
    val c = gen.rolledBack.find(ch => !gen.model.contains(ch.k)).get
    val back = MatRow(c.k, c.seq, c.v, c.oldV, c.etype)
    assert(Checks.materialized(gen.model, table :+ back).nonEmpty)
  }

  test("materialized check rejects a deleted key that is still visible") {
    val d = gen.committedByChunk.flatten.find(ch => ch.op == "delete" && !gen.model.contains(ch.k)).get
    assert(Checks.materialized(gen.model, table :+ MatRow(d.k, d.seq, d.v, None, d.etype)).nonEmpty)
  }

  test("materialized check rejects a key served twice") {
    assert(Checks.materialized(gen.model, table :+ table.head).nonEmpty)
  }

  // ----------------------------------------------------------- cluster_labels

  private val corpus = new Corpus(seed = 4, batches = 4, groups = 6, chains = 4, singles = 20)
  private val shingles = corpus.docs.map(d => d.id -> ClusterLabels.shingles(d.text)).toMap
  private val family = corpus.docs.map(d => d.id -> d.family).toMap
  private val ids = corpus.docs.map(_.id)
  // The truth the program should log: every pair at or above the threshold.
  private val pairs = for {
    a <- ids; b <- ids if a < b
    if ClusterLabels.jaccard(shingles(a), shingles(b)) >= ClusterLabels.Threshold
  } yield (a, b)
  private val labels = {
    val comp = Checks.components(ids, pairs)
    val size = comp.values.groupBy(identity).map { case (c, m) => c -> m.size.toLong }
    ids.map(i => Label(i, comp(i), size(comp(i)), i == comp(i)))
  }
  private def check(ps: Seq[(Long, Long)], ls: Seq[Label], recompute: Seq[Label] = labels) =
    Checks.labels(ps, ls, recompute, ids, shingles, family, ClusterLabels.Threshold)

  test("the corpus keeps every pair's Jaccard away from the threshold") {
    for (a <- ids; b <- ids if a < b) {
      val j = ClusterLabels.jaccard(shingles(a), shingles(b))
      assert(j == 0.0 || math.abs(j - 0.7) >= 0.08, s"($a, $b): $j")
    }
    assert(corpus.chainIds.forall { case Seq(a, _, c) =>
      ClusterLabels.jaccard(shingles(a), shingles(c)) < 0.7 })
  }

  test("label check accepts labels derived from the true pairs") {
    assert(check(pairs, labels).isEmpty)
  }

  test("label check rejects a pair below the threshold") {
    val Seq(a, _, c) = corpus.chainIds.head
    assert(check(pairs :+ (math.min(a, c) -> math.max(a, c)), labels).nonEmpty)
  }

  test("planted groups are whole in labels derived from the true pairs") {
    assert(Checks.splitMembers(labels, corpus.planted).isEmpty)
  }

  test("planted group check counts each member of a split cluster") {
    val g = corpus.planted.head
    val lone = g.filterNot(_ == g.min).head
    val split = labels.map(l => if (l.id == lone) l.copy(component = l.id, size = 1, keep = true) else l)
    assert(Checks.splitMembers(split, corpus.planted) == Seq(lone -> g))
  }

  test("planted group check counts a member with no label") {
    val g = corpus.planted.last
    assert(Checks.splitMembers(labels.filterNot(_.id == g.max), corpus.planted) == Seq(g.max -> g))
  }

  test("the planted groups do not depend on the seed") {
    val other = new Corpus(seed = 11, batches = 4, groups = 6, chains = 4, singles = 20)
    def texts(c: Corpus) = c.planted.map(_.map(id => c.docs.find(_.id == id).get)
      .map(d => (d.text, d.batch)).toSet)
    assert(texts(other) == texts(corpus))
  }

  test("label check rejects a label that is not the smallest id") {
    val g = corpus.planted.head
    val big = labels.map(l => if (g.contains(l.id)) l.copy(component = g.max, keep = l.id == g.max) else l)
    assert(check(pairs, big, big).nonEmpty)
  }

  test("label check rejects a missing document") {
    assert(check(pairs, labels.tail).nonEmpty)
  }

  test("label check rejects streamed labels that differ from the recompute") {
    assert(check(pairs, labels, labels.map(l => l.copy(size = l.size + 1))).nonEmpty)
  }

  test("label check rejects a cluster across disjoint vocabularies") {
    val (a, b) = (corpus.planted(0).head, corpus.planted(1).head)
    val joined = pairs :+ (math.min(a, b) -> math.max(a, b))
    val comp = Checks.components(ids, joined)
    val size = comp.values.groupBy(identity).map { case (c, m) => c -> m.size.toLong }
    val ls = ids.map(i => Label(i, comp(i), size(comp(i)), i == comp(i)))
    assert(check(joined, ls, ls).nonEmpty)
  }
}
