package graft.spark

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Trained NER span tagger: the sufficient statistic matches the CPython
  * twin bit-for-bit, and the assembled model detects UNSEEN
  * surname-pattern entities the gazetteer cannot, merged into the
  * ENHANCED scrub path. */
class NerTagSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private lazy val model = NerTagTrain.train(
    spark, DataGen.pages(spark, 2000).toDF(), "text")
  /** A latin org that is neither a gazetteer entry nor rule-matchable. */
  private val KotobukiText =
    "Deliveries are handled by Kotobuki Corp every week. The library " +
      "opens at nine in the morning and closes at eight in the evening. " +
      "Most readers scan the first page of a report and move on."

  test("q_ner_train matches the CPython twin over the pages corpus") {
    val got = SparkEntry.queries("q_ner_train")(spark, TestData("sf0.01"))
    val want = spark.read.parquet(
      "src/test/resources/golden/expected_sf0.01/ner_train.parquet")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("unseen surname-pattern name: tagger detects, gazetteer cannot, " +
      "ENHANCED scrub redacts") {
    // 森本 is not a gazetteer family, so 森本太郎 is no entry and contains
    // none — the dictionary automaton is blind to it
    val text = "担当は森本太郎さんです"
    assert(NerSlot.defaultModel.hitsOf(text).isEmpty)
    val hits = model.hitsOf(text)
    assert(hits.exists(h => h.text == "森本太郎" && h.kind == "name"),
      s"tagger missed the unseen name; hits=$hits")
    // merged into the ENHANCED scrub: the name must be aliased away
    val c = Pipeline.Conf()
    val r = graft.core.Scrub.scrubWithMode("dict", text, c.keyB64, c.ns,
      "", NerSlot.defaultModel.hitsOf(text) ++ hits)
    assert(!r.scrubbed.contains("森本太郎"), s"leaked: ${r.scrubbed}")
    assert(r.scrubbed.contains("<PERSON_"), s"no person alias: ${r.scrubbed}")
  }

  test("Pipeline at ENHANCED + trained tagger redacts an unseen LATIN org " +
      "end-to-end; MAXIMUM ignores the tagger") {
    // kanji names are already covered by the RULE patterns at every level
    // (RE_NAME_K), so the case only the TAGGER can catch is a latin org
    // that is neither a gazetteer entry nor rule-matchable
    import spark.implicits._
    val page = ("https://t.example/1",
      new java.sql.Timestamp(0L), Array.empty[Byte], KotobukiText, "en")
    val pages = Seq(page).toDF("url", "warc_ts", "html", "text", "lang")
    val enhanced = Pipeline.run(spark, pages, Pipeline.Conf(
      security = Pipeline.SecurityLevel.Enhanced, trainedNer = Some(model)))
    val row = enhanced.select("scrubbed_text", "model_hits").head()
    assert(!row.getString(0).contains("Kotobuki Corp"),
      s"unseen org leaked through the full pipeline: ${row.getString(0)}")
    assert(row.getSeq[org.apache.spark.sql.Row](1)
      .exists(h => h.getAs[String]("reason").startsWith("tagger:")),
      "tagger hit missing from model_hits")
    // MAXIMUM: neither rules nor gazetteer nor tagger touch it — kept.
    // (trainedNer set but ignored, like the gazetteer, per main.py:241-245)
    val maximum = Pipeline.run(spark, pages, Pipeline.Conf(
      security = Pipeline.SecurityLevel.Maximum, trainedNer = Some(model)))
    assert(maximum.select("scrubbed_text").head().getString(0)
      .contains("Kotobuki Corp"))
    // and ENHANCED with only the gazetteer (no tagger) also keeps it —
    // the tagger is the component that generalizes
    val gazOnly = Pipeline.run(spark, pages, Pipeline.Conf(
      security = Pipeline.SecurityLevel.Enhanced))
    assert(gazOnly.select("scrubbed_text").head().getString(0)
      .contains("Kotobuki Corp"))
  }

  test("Pipeline at ENHANCED + trained tagger == core scrub over gazetteer " +
      "then tagger hits, row for row, with no UDF in the plan") {
    import spark.implicits._
    val kotobuki = Page("https://t.example/kotobuki", new java.sql.Timestamp(0L),
      Array.empty[Byte], KotobukiText, "en")
    val pages = DataGen.pages(spark, 300, partitions = 4).collect().toSeq :+ kotobuki
    val texts = pages.map(p => p.url -> p.text).toMap
    var taggerHits = 0
    for (mode <- Seq("dict", "ref")) {
      val conf = Pipeline.Conf(scrubMode = mode,
        security = Pipeline.SecurityLevel.Enhanced, trainedNer = Some(model))
      // an RDD source: the optimizer would fold the stage into a local one
      val out = Pipeline.run(spark, spark.sparkContext.parallelize(pages, 4).toDF(), conf)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("page_stages") && !plan.contains("UDF"), plan)
      val rows = out.select("url", "scrubbed_text", "alias_dict", "n_hits", "model_hits")
        .collect()
      assert(rows.length == pages.length)
      rows.foreach { r =>
        val t = texts(r.getString(0))
        val hits = NerSlot.defaultModel.hitsOf(t) ++ model.hitsOf(t)
        val want = graft.core.Scrub.scrubWithMode(mode, t, conf.keyB64, conf.ns, "", hits)
        val got = r.getSeq[org.apache.spark.sql.Row](4).map(h => graft.core.Hit(
          h.getString(0), h.getString(1), h.getInt(2), h.getInt(3), h.getDouble(4),
          h.getString(5)))
        assert(r.getString(1) == want.scrubbed, s"mode=$mode url=${r.getString(0)}")
        assert(r.getMap[String, String](2).toMap == want.aliases, s"mode=$mode")
        assert(r.getMap[String, Long](3).toMap == want.counts, s"mode=$mode")
        assert(got == hits, s"mode=$mode url=${r.getString(0)}")
        taggerHits += hits.count(_.reason.startsWith("tagger:"))
      }
    }
    assert(taggerHits > 0, "no tagger hits — vacuous pin")
  }

  test("unseen org-pattern span classifies as org") {
    // 宮森 is not an org stem; the 株式会社 suffix shape generalizes
    assert(model.predict("宮森株式会社").contains("ORG"))
  }

  test("common corpus words stay untagged") {
    assert(model.predict("茶色").isEmpty)   // ja pool word (NEG in training)
    assert(model.predict("Contact").isEmpty) // capitalized English word
  }
}
