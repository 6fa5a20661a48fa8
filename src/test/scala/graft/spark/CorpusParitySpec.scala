package graft.spark

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-scale CPython parity: the committed expected parquet under
  * golden/expected_sf0.01 was computed by CPython running the REFERENCE
  * semantics (tools/gen_expected.py — `re` lookarounds, HMAC, MT19937)
  * over the sf0.01 corpus with the same planted PII. The Scala engine must
  * agree row-for-row — this is the reference-independent check RE2-based
  * SQL oracles cannot express (postal lookaround, alias RNG).
  */
class CorpusParitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = TestData("sf0.01")
  private val golden = "src/test/resources/golden/expected_sf0.01"

  test("scrub_ref matches CPython reference semantics on all 500 docs") {
    val got = SparkEntry.queries("q_scrub_ref")(spark, dir)
    val want = spark.read.parquet(s"$golden/scrub_ref.parquet")
    assert(got.count() == 500)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("langid + perplexity match the CPython scoring twins over the corpus") {
    for ((q, exp) <- Seq("q_langid" -> "langid", "q_ppl" -> "ppl",
      "q_ppl_lang" -> "ppl_lang")) {
      val got = SparkEntry.queries(q)(spark, dir)
      val want = spark.read.parquet(s"$golden/$exp.parquet")
      assert(got.count() == 500, q)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, q)
    }
  }

  test("gopher repetition metrics match the CPython twin over the corpus") {
    val got = SparkEntry.queries("q_gopher_ngrams")(spark, dir)
    val want = spark.read.parquet(s"$golden/gopher_ngrams.parquet")
    assert(got.count() == 500)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("flagship pipeline matches the CPython end-to-end twin per url") {
    for ((q, exp) <- Seq("q_pipeline" -> "pipeline",
      "q_pipeline_dedup" -> "pipeline_dedup")) {
      val want = spark.read.parquet(s"$golden/$exp.parquet")
      val cols = want.columns.map(col).toSeq
      val got = SparkEntry.queries(q)(spark, dir).select(cols: _*)
      assert(got.count() == want.count(), q)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, q)
    }
  }

  test("preview hit relation (offsets, confs, order) matches CPython") {
    val got = SparkEntry.queries("q_preview")(spark, dir)
      .select(col("doc_id"), col("pos"), col("kind"), col("text"),
        col("start"), col("end"), col("conf_centi"), col("reason"))
    val want = spark.read.parquet(s"$golden/preview.parquet")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
