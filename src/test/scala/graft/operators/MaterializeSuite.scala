package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Materialize.withAny]] — the fused materialize-and-probe that cut
  * the closure/CC loops to one Spark job per round (r17): the returned
  * frame must be the checkpointed input (probe column dropped), and
  * the flag must report exactly "some row satisfied it", including the
  * all-false, empty-frame, and null-flag edges. */
class MaterializeSuite extends AnyFunSuite {

  private def s = TestSpark.spark

  test("withAny reports a satisfied flag and preserves the rows") {
    val sp = s
    import sp.implicits._
    val df = Seq((1L, 5L), (2L, 0L), (3L, 7L)).toDF("id", "v")
    val (out, any) = Materialize.withAny(df, col("v") > 6L)
    assert(any, "a satisfying row went unreported")
    assert(out.columns.toSeq == Seq("id", "v"), "probe column leaked")
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 5L), (2L, 0L), (3L, 7L)))
  }

  test("withAny is false when no row satisfies, and on an empty frame") {
    val sp = s
    import sp.implicits._
    val df = Seq((1L, 5L), (2L, 0L)).toDF("id", "v")
    assert(!Materialize.withAny(df, col("v") > 100L)._2)
    assert(!Materialize.withAny(df.limit(0), lit(true))._2)
    val (empty, anyEmpty) = Materialize.withAny(df.filter(col("v") < 0L),
      lit(true))
    assert(!anyEmpty && empty.isEmpty)
  }

  test("a NULL flag counts as false, not as a probe error") {
    val sp = s
    import sp.implicits._
    val df = Seq((1L, Some(3L)), (2L, None)).toDF("id", "v")
    val (out, any) = Materialize.withAny(df, col("v") > 2L)
    assert(any)
    assert(out.count() == 2L)
    assert(!Materialize.withAny(df, col("v") > 10L)._2)
  }

  test("local rebuilds a frame within its bound and raises on one above it") {
    val sp = s
    import sp.implicits._
    val df = Seq(1L, 2L, 3L).toDF("id").repartition(2)
    assert(Materialize.local(df, 3).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    val e = intercept[IllegalArgumentException](Materialize.local(df, 2))
    assert(e.getMessage.contains("more than 2 rows"), e.getMessage)
  }
}
