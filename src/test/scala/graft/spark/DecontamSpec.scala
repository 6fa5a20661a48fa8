package graft.spark

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Benchmark decontamination: planted 13-gram leakage must be flagged,
  * clean docs must not, short-doc whole-text semantics hold, and the
  * corpus relation matches the CPython twin.
  */
class DecontamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val benchText =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike november oscar"

  test("planted 13-gram overlap is flagged; clean text is not") {
    import spark.implicits._
    val docs = Seq(
      // contains the bench's first 13 tokens verbatim inside other prose
      (1L, "intro words then alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike closing words"),
      // same vocabulary, different order — no shared 13-gram
      (2L, "mike lima kilo juliett india hotel golf foxtrot echo delta charlie bravo alpha november oscar extra"),
      (3L, "completely unrelated text about rivers bridges and libraries opening in the morning")
    ).toDF("doc_id", "text")
    val bench = Seq(benchText).toDF("text")
    val got = Decontam.run(docs, "doc_id", "text", bench, "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L)._2 && got(1L)._1 >= 1)
    assert(!got(2L)._2 && got(2L)._1 == 0)
    assert(!got(3L)._2)
  }

  test("a short doc compares as one whole-text shingle") {
    import spark.implicits._
    val docs = Seq((1L, "tiny eval prompt"), (2L, "tiny eval other")).toDF("doc_id", "text")
    val bench = Seq("tiny eval prompt").toDF("text")
    val got = Decontam.run(docs, "doc_id", "text", bench, "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got(1L) && !got(2L))
  }

  test("maxShingles bound throws instead of silently truncating") {
    import spark.implicits._
    val bench = Seq(benchText).toDF("text")
    val e = intercept[IllegalArgumentException] {
      Decontam.benchmarkHashes(bench, "text", k = 3, maxShingles = 2)
    }
    assert(e.getMessage.contains("maxShingles"))
  }

  test("q_decontam matches the CPython twin over the sf0.01 corpus") {
    val got = SparkEntry.queries("q_decontam")(spark, TestData("sf0.01"))
    val want = spark.read.parquet(
      "src/test/resources/golden/expected_sf0.01/decontam.parquet")
    assert(got.count() == 500)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("leakage attribution counts corpus docs per benchmark doc, zeros kept") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj kk ll mm nn extra tail"),
      (2L, "aa bb cc dd ee ff gg hh ii jj kk ll mm nn other suffix"),
      (3L, "completely different words with no overlap at all here okay")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "aa bb cc dd ee ff gg hh ii jj kk ll mm nn"), // leaked twice
      (200L, "zz yy xx ww vv uu tt ss rr qq pp oo nn2 mm2") // leaked nowhere
    ).toDF("bench_id", "text")
    val got = Decontam.report(corpus, "text", bench, "bench_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(100L -> 2L, 200L -> 0L), got.toString)
  }
}
