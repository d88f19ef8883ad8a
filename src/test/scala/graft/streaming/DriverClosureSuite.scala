package graft.streaming

import graft.TestSpark
import graft.operators.ConnectedComponents
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-local closures against the distributed loops they stand in
  * for. [[ConnectedComponents.contractionRelabel]] closes a contracted
  * graph of at most [[ConnectedComponents.LocalEdgeBound]] edges by
  * union-find on the driver, and [[LabelLog.aliasClosure]] chases an
  * alias log of at most that many rows on the driver; both must return
  * exactly what [[ConnectedComponents.componentsOfEdges]] and
  * [[LabelLog.aliasClosureCounted]] return. The graphs are seeded and
  * include the shapes that break naive closures: long chains, stars,
  * duplicate and reversed edges, negative and large ids. A graph one
  * edge over the bound must take the distributed path.
  */
class DriverClosureSuite extends AnyFunSuite {
  private val s = TestSpark.spark
  import s.implicits._

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: LocalRelation => r
    }.isDefined

  private def pairs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Converged labels (id → comp, comp = min id of its group) over
    * `ids`, built from random groups — the input a contraction sees. */
  private def converged(rnd: scala.util.Random,
      ids: Seq[Long]): Map[Long, Long] =
    rnd.shuffle(ids).grouped(1 + rnd.nextInt(4)).flatMap { g =>
      val m = g.min
      g.map(_ -> m)
    }.toMap

  /** Seeded id pools: small, negative, and near the Long range's ends. */
  private def idPool(rnd: scala.util.Random, n: Int, kind: Int): Seq[Long] =
    kind match {
      case 0 => (1L to n.toLong)
      case 1 => (1 to n).map(i => -1000L * i + rnd.nextInt(500))
      case 2 => (1 to n).map(i => Long.MaxValue - 7L * i)
      case _ => (1 to n).map(i => Long.MinValue + 11L * i)
    }

  /** Edge shapes over `ids`: a chain in shuffled order, a star, and a
    * random multigraph with duplicate and reversed edges. */
  private def edges(rnd: scala.util.Random, ids: IndexedSeq[Long],
      shape: Int): Seq[(Long, Long)] = shape match {
    case 0 =>
      val o = rnd.shuffle(ids)
      o.zip(o.tail)
    case 1 => ids.tail.map(l => if (rnd.nextBoolean()) (ids.head, l) else (l, ids.head))
    case _ =>
      val es = Seq.fill(ids.size)((ids(rnd.nextInt(ids.size)),
        ids(rnd.nextInt(ids.size))))
      es ++ es.take(5) ++ es.take(5).map(_.swap)
  }

  test("PROPERTY: the driver-local relabel equals componentsOfEdges on " +
      "seeded contracted graphs") {
    val rnd = new scala.util.Random(4099L)
    // every id pool meets two of the three shapes
    for (kind <- 0 until 4; shape <- Seq(kind % 3, (kind + 1) % 3)) {
      val ids = idPool(rnd, 12 + rnd.nextInt(30), kind).toIndexedSeq
      val labels = converged(rnd, ids)
      val es = edges(rnd, ids, shape)
      val got = ConnectedComponents.contractionRelabel(
        labels.toSeq.toDF("id", "comp"), es.toDF("e1", "e2"))
      // the contracted graph, computed here: each edge between the
      // endpoints' comps, merging edges only
      val contracted = es.map { case (a, b) => (labels(a), labels(b)) }
        .filter { case (a, b) => a != b }.distinct
      if (contracted.isEmpty) assert(got.isEmpty, s"kind $kind shape $shape")
      else {
        assert(got.exists(isLocal), s"kind $kind shape $shape: not local")
        val want = pairs(ConnectedComponents.componentsOfEdges(
          contracted.toDF("a", "b"), "a", "b"))
        assert(pairs(got.get) == want,
          s"kind $kind shape $shape: contracted=$contracted")
      }
    }
  }

  test("the local relabel keeps the id type of the label table") {
    val got = ConnectedComponents.contractionRelabel(
      Seq((1, 1), (2, 2), (3, 3)).toDF("id", "comp"),
      Seq((3, 2), (2, 1)).toDF("e1", "e2")).get
    assert(isLocal(got))
    assert(got.schema.map(_.dataType.typeName) == Seq("integer", "integer"))
    assert(got.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1))
  }

  test("a contracted graph of bound + 1 edges takes the distributed path " +
      "and labels like the local path at the bound") {
    val bound = ConnectedComponents.LocalEdgeBound.toLong
    // edge i joins 2i and 2i+1, so every pair is its own component
    def relabel(nEdges: Long): DataFrame = ConnectedComponents
      .contractionRelabel(
        s.range(2 * nEdges).select(col("id"), col("id").as("comp")),
        s.range(nEdges).select((col("id") * 2).as("e1"),
          (col("id") * 2 + 1).as("e2"))).get
    for ((n, local) <- Seq((bound + 1, false), (bound, true))) {
      val r = relabel(n)
      assert(isLocal(r) == local, s"$n edges: local=${isLocal(r)}")
      val wrong = r.filter(col("comp") =!= col("id") - pmod(col("id"), lit(2L)))
      assert(r.count() == 2 * n && wrong.isEmpty, s"$n edges")
    }
  }

  private def closureOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  private def aliasDf(as: Seq[(Long, Long)]): DataFrame = as.toDF("from", "to")

  private def endpoints(as: Seq[(Long, Long)]): Array[Long] =
    as.distinct.flatMap { case (f, t) => Seq(f, t) }.toArray

  test("PROPERTY: the local alias closure equals aliasClosureCounted, " +
      "including on the 63-link chain") {
    // batch k of the 64-batch depth chain merges 65-k into 64-k
    val chain = (1 to 63).map(k => (65L - k, 64L - k))
    val rnd = new scala.util.Random(8191L)
    // seeded forests: every id but a few roots points to a smaller id,
    // over small, negative and large ids; duplicated rows included
    val forests = (0 until 4).map { kind =>
      val ids = idPool(rnd, 20 + rnd.nextInt(40), kind).sorted.toIndexedSeq
      val as = ids.indices.drop(1).filter(_ => rnd.nextInt(5) != 0)
        .map(i => (ids(i), ids(rnd.nextInt(i))))
      as ++ as.take(3)
    }
    for ((as, i) <- (chain +: forests).zipWithIndex) {
      val (loop, _) = LabelLog.aliasClosureCounted(aliasDf(as))
      val want = closureOf(loop)
      assert(closureOf(LabelLog.localAliasClosure(s, endpoints(as))) == want,
        s"log $i")
      val viaClosure = LabelLog.aliasClosure(aliasDf(as))
      assert(isLocal(viaClosure) && closureOf(viaClosure) == want, s"log $i")
    }
    assert(LabelLog.aliasClosureCounted(aliasDf(chain))._2 == 7)
    assert(closureOf(LabelLog.localAliasClosure(s, Array.empty[Long])).isEmpty)
  }

  test("the local alias closure rejects a log that breaks its invariant") {
    // a component merged away twice, and an alias to a larger id
    intercept[IllegalArgumentException](
      LabelLog.localAliasClosure(s, endpoints(Seq((5L, 1L), (5L, 2L)))))
    intercept[IllegalArgumentException](
      LabelLog.localAliasClosure(s, endpoints(Seq((1L, 5L)))))
  }

  test("an alias log of bound + 1 rows closes by the doubling loop") {
    val n = ConnectedComponents.LocalEdgeBound.toLong + 1
    val cl = LabelLog.aliasClosure(s.range(n)
      .select((col("id") * 2 + 1).as("from"), (col("id") * 2).as("to")))
    assert(!isLocal(cl))
    assert(cl.count() == n && cl.filter(col("to") =!= col("from") - 1).isEmpty)
  }
}
