package graft.spark

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge-rule training: deterministic merge loop semantics on a
  * hand-computed dict, and corpus-scale parity with the CPython twin
  * (tools/gen_expected.py bpe_merges — identical count-desc/lexicographic
  * selection over the same word-frequency dict).
  */
class BpeTrainSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("learnMerges reproduces the classic hand-computed merge sequence") {
    // Sennrich et al. running example: {low:5, lower:2, newest:6, widest:3}
    val dict = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = BpeTrain.learnMerges(dict, 4)
    // round 0: es appears in newest(6)+widest(3)=9 — the unique max
    assert(merges.head == ((0, "e", "s", 9L)))
    // round 1: es+t -> est, still 9
    assert(merges(1) == ((1, "es", "t", 9L)))
    // round 2: est+</w> 9
    assert(merges(2) == ((2, "est", "</w>", 9L)))
    // round 3: l+o in low(5)+lower(2)=7
    assert(merges(3) == ((3, "l", "o", 7L)))
  }

  test("ties break lexicographically so the table is order-independent") {
    // ab and cd both have freq 1; (a,b) < (c,d) lexicographically
    val m1 = BpeTrain.learnMerges(Seq("ab" -> 1L, "cd" -> 1L), 1)
    val m2 = BpeTrain.learnMerges(Seq("cd" -> 1L, "ab" -> 1L), 1)
    assert(m1 == m2 && m1.head == ((0, "a", "b", 1L)))
  }

  test("symbols split by code point — surrogate pairs stay one symbol") {
    assert(BpeTrain.symbols("ok😀").toSeq == Seq("o", "k", "😀"))
    // a merge learned over a non-BMP word must keep the emoji whole:
    // all pairs tie at freq 3, lexicographic tie-break picks (k, 😀)
    val merges = BpeTrain.learnMerges(Seq("ok😀" -> 3L), 1)
    assert(merges.head == ((0, "k", "😀", 3L)))
  }

  test("merge loop stops when no adjacent pairs remain") {
    // single-char word: one pair (x, </w>), then nothing left to merge
    val merges = BpeTrain.learnMerges(Seq("x" -> 3L), 10)
    assert(merges == Seq((0, "x", "</w>", 3L)))
  }

  test("encodeWord applies merges lowest-rank-first, all occurrences") {
    // Sennrich dict merges: 0:(e,s) 1:(es,t) 2:(est,</w>) 3:(l,o)
    val dict = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val ranks = BpeTrain.learnMerges(dict, 4)
      .map { case (rank, l, r, _) => (l, r) -> rank }.toMap
    assert(BpeTrain.encodeWord("lowest", ranks).toSeq ==
      Seq("lo", "w", "est</w>"))
    assert(BpeTrain.encodeWord("low", ranks).toSeq == Seq("lo", "w", "</w>"))
    assert(BpeTrain.encodeWord("eses", ranks).toSeq ==
      Seq("es", "es", "</w>"))
    // unseen word built from seen subwords: (e,s)+(es,t)+(est,</w>) fire,
    // the unranked (s,t)/(t,est</w>) pairs stay split
    assert(BpeTrain.encodeWord("stest", ranks).toSeq ==
      Seq("s", "t", "est</w>"))
  }

  test("q_bpe_encode matches the CPython twin over the sf0.01 corpus") {
    val got = SparkEntry.queries("q_bpe_encode")(spark, TestData("sf0.01"))
    val want = spark.read.parquet(
      "src/test/resources/golden/expected_sf0.01/bpe_encode.parquet")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("q_bpe_merges matches the CPython twin over the sf0.01 corpus") {
    val got = SparkEntry.queries("q_bpe_merges")(spark, TestData("sf0.01"))
    val want = spark.read.parquet(
      "src/test/resources/golden/expected_sf0.01/bpe_merges.parquet")
    assert(got.count() == 50)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
