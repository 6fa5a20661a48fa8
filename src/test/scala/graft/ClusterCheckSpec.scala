package graft

import org.scalatest.funsuite.AnyFunSuite

/** `ClusterCheck.sameRows` is the verdict of the multi-process parity check:
  * it must not report equal frames that differ, nor differ on map order. */
class ClusterCheckSpec extends AnyFunSuite {
  private lazy val spark = graft.spark.SparkTestSession.spark

  test("sameRows compares map-typed rows by entries, with nulls kept") {
    val s = spark
    import s.implicits._
    def df(m: Map[String, Long], o: Option[String]) =
      Seq((1, m, o), (2, Map("z" -> 3L), None)).toDF("id", "m", "o")
    val base = df(Map("x" -> 1L, "y" -> 2L), Some("s"))
    assert(ClusterCheck.sameRows(base, df(Map("y" -> 2L, "x" -> 1L), Some("s"))))
    assert(!ClusterCheck.sameRows(base, df(Map("x" -> 1L, "y" -> 3L), Some("s"))))
    assert(!ClusterCheck.sameRows(base, df(Map("x" -> 1L, "y" -> 2L), None)))
    assert(!ClusterCheck.sameRows(base, base.limit(1)))
    // duplicates count: a multiset, not a set
    assert(!ClusterCheck.sameRows(base, base.union(base.limit(1))))
  }

  test("sameRows on plain columns is exact multiset equality") {
    val s = spark
    import s.implicits._
    val a = Seq((1, "a"), (1, "a"), (2, null)).toDF("k", "v")
    assert(ClusterCheck.sameRows(a, Seq((2, null), (1, "a"), (1, "a")).toDF("k", "v")))
    assert(!ClusterCheck.sameRows(a, Seq((1, "a"), (2, null)).toDF("k", "v")))
  }
}
