package graft.spark

import graft.SparkEntry
import graft.core.Perplexity
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Distributed LM training: the trigram-count relation must equal a serial
  * reference loop (per-doc reset, 8192-char cap), the refactored trainer
  * must regenerate the committed model artifacts byte-identically, and the
  * corpus counts must match the CPython twin.
  */
class LmTrainSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import Perplexity.{A, SpaceSym}

  // CODE-POINT iteration with the cap in code points — the trainer's (and
  // CPython twin's) semantics, so this reference loop pins the right side
  // even on astral-plane input
  private def serialCounts(docs: Seq[String]): Map[Int, Long] = {
    val c = scala.collection.mutable.Map.empty[Int, Long]
    docs.foreach { t =>
      var p2 = SpaceSym
      var p1 = SpaceSym
      var taken = 0
      val it = t.codePoints().iterator()
      while (it.hasNext && taken < LmTrain.MaxChars) {
        val c0 = Perplexity.symCp(it.nextInt())
        val g = (p2 * A + p1) * A + c0
        c.update(g, c.getOrElse(g, 0L) + 1L)
        p2 = p1; p1 = c0
        taken += 1
      }
    }
    c.toMap
  }

  test("gramCounts equals the serial per-doc loop (reset + 8192 cap)") {
    val docs = Seq(
      "the quick brown fox 123",
      "x" * 10000, // over the cap — only the first 8192 code points count
      "¥ symbols and spaces\tmix",
      "astral 😀 mix") // surrogate pair = ONE symbol event on both sides
    import spark.implicits._
    val got = LmTrain.gramCounts(docs.toDF("text").repartition(3), "text")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == serialCounts(docs))
  }

  test("astral-plane char is ONE symbol event (code-point iteration)") {
    // "a😀b" in Python is 3 code points → 3 trigram events; a UTF-16 loop
    // would see 4 chars and emit 4. The surrogate pair must classify as a
    // single OtherSym.
    import spark.implicits._
    val got = LmTrain.gramCounts(Seq("a😀b").toDF("text"), "text")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got.values.sum == 3L)
    import Perplexity.OtherSym
    val aSym = Perplexity.sym('a')
    val bSym = Perplexity.sym('b')
    assert(got == Map(
      (SpaceSym * A + SpaceSym) * A + aSym -> 1L,
      (SpaceSym * A + aSym) * A + OtherSym -> 1L,
      (aSym * A + OtherSym) * A + bSym -> 1L))
  }

  test("q_lm_train matches the CPython twin over the sf0.01 corpus") {
    val got = SparkEntry.queries("q_lm_train")(spark, TestData("sf0.01"))
    val want = spark.read.parquet(
      "src/test/resources/golden/expected_sf0.01/lm_train.parquet")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("corpus-trained model orders natural text below gibberish") {
    val m = LmTrain.train(
      spark.read.parquet(TestData("sf0.001/documents.parquet")), "text")
    val natural = "the report shows that most users read the first page and move on"
    val junk = "#$%&*+=~^|@!?<>{}[]()" * 10
    // corpus-trained margin is smaller than the seed-trained models' (the
    // web corpus itself contains symbol soup), so assert a 2x separation
    assert(m.perplexity(natural) * 2 < m.perplexity(junk))
  }
}
