package graft.spark

import graft.core.{LangId, Perplexity, Quality, Scrub, TextDedup}
import graft.spark.expressions.GraftExtensions
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native `page_stages` expression must (a) agree row for row with the
  * `graft.core` functions run on the row's String, (b) stay inside
  * whole-stage codegen (the point of having it). The scalar UDFs the
  * engine calls must agree with their core functions. */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    GraftExtensions.install(s)
    s
  }

  test("scrub-tags UDF == core Scrub.scrubTags on planted PII docs, null stays null") {
    import spark.implicits._
    val texts = (0L until 200L).map(i =>
      s"doc $i mail u$i@ex.com tel 03-1234-${1000 + i % 9000} pay ¥${1 + i % 9},123 id ACC-${10000 + i}")
    val got = (texts :+ null).toDF("text")
      .select(PiiFunctions.scrubTagsUdf(col("text"))).as[String].collect()
    assert(got.toSeq == texts.map(Scrub.scrubTags(_)) :+ null)
  }

  test("fingerprint/simhash UDFs == core functions") {
    import spark.implicits._
    val texts = (0L until 200L).map(DataGen.pageFor(_).text)
    val rows = texts.toDF("text")
      .select(PiiFunctions.fingerprintUdf(col("text")), PiiFunctions.simHashUdf(col("text")))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getLong(0) == TextDedup.fingerprint(t))
      assert(r.getLong(1) == TextDedup.simHash(t))
    }
  }

  /** One row of the fused stage's outputs, doubles by raw bits; the last
    * field is `n_toxic`, 0 without a toxicity bank. */
  private type Stage = (String, Long, Long, Seq[Any], Boolean, String,
    String, Map[String, String], Map[String, Long], Long)

  /** `graft.core` on the row's String: the reference for the fused stage. */
  private def reference(text: String, conf: Pipeline.Conf): Stage = {
    val t = if (text == null) "" else text
    val (l, c) = LangId.default.classify(t)
    val p = Perplexity.default.perplexity(t)
    val m = Quality.metrics(t)
    val (kept, ruleReason) = Quality.decide(m, p, conf.quality)
    val d = Scrub.scrubWithMode(conf.scrubMode, t, conf.keyB64, conf.ns, "")
    // toxicity: counted on the input with the row's own language, a drop
    // only where the rules kept the row, the mask over the PII output
    val bank = conf.toxicityByLang.map(Toxicity.LangBank(_))
    val nToxic = bank.fold(0L)(_.countIn(l, t))
    val (keep, reason) =
      if (kept && nToxic > conf.toxicityMaxHits) (false, "toxicity") else (kept, ruleReason)
    (l, java.lang.Double.doubleToRawLongBits(c), java.lang.Double.doubleToRawLongBits(p),
      m.productIterator.toSeq, keep, reason, bank.fold(d.scrubbed)(_.scrubIn(l, d.scrubbed)),
      d.aliases, d.counts, nToxic)
  }

  /** `Pipeline.run`'s stage outputs by url. */
  private def engine(df: DataFrame, conf: Pipeline.Conf): Map[String, Stage] = {
    val out = Pipeline.run(spark, df, conf)
    out.select(Seq("url", "lang_id", "lang_conf", "ppl", "quality", "keep", "drop_reason",
        "scrubbed_text", "alias_dict", "n_hits").map(col) :+
        (if (out.columns.contains("n_toxic")) col("n_toxic") else lit(0L)): _*)
      .collect().map(r => r.getString(0) -> ((r.getString(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        r.getAs[Row](4).toSeq, r.getBoolean(5), r.getString(6), r.getString(7),
        r.getMap[String, String](8).toMap, r.getMap[String, Long](9).toMap,
        r.getLong(10)): Stage))
      .toMap
  }

  /** A pages frame over an RDD: over a local Seq the optimizer would fold
    * the stage into the relation through `eval`, not the generated code. */
  private def pagesDf(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows.map { case (url, text) =>
      Page(url, new java.sql.Timestamp(0L), Array.emptyByteArray, text, "en")
    }, 2).toDF()
  }

  /** Checks the ref and dict modes plus any `extra` confs; returns the
    * engine's rows per conf, in that order. */
  private def assertMatchesCore(df: DataFrame, texts: Map[String, String],
                                extra: Seq[Pipeline.Conf] = Nil): Seq[Map[String, Stage]] =
    (Seq("ref", "dict").map(m => Pipeline.Conf(scrubMode = m)) ++ extra).map { conf =>
      val got = engine(df, conf)
      assert(got.keySet == texts.keySet)
      texts.foreach { case (url, t) =>
        assert(got(url) == reference(t, conf), s"conf=$conf url=$url")
      }
      got
    }

  test("page_stages in Pipeline.run == core functions on the String, row for row") {
    val pages = DataGen.pages(spark, 400, partitions = 4)
    // a per-language toxicity bank whose terms occur in the generated text:
    // "library" also hits dup-lines pages, which the rules drop first
    val toxicity = Pipeline.Conf(toxicityByLang =
      Some(Map("en" -> Seq("kappa", "rho", "library"), "*" -> Seq("kappa"))))
    val got = assertMatchesCore(pages.toDF(),
      pages.collect().map(p => p.url -> p.text).toMap, Seq(toxicity))
    assert(got.last.values.exists(_._10 > 0L), "no row hit the toxicity bank")
  }

  test("alias_dict and n_hits keep core's entry order through Spark, in every mode") {
    // the specs above compare the maps after toMap; the stored key order is
    // what a row-identity check over to_json reads
    val planted = (0 until 20).map(i => s"https://o.example/$i" ->
      (s"mail u$i@ex.com and v$i@ex.com tel 03-1234-${5678 + i} pay ¥1,${100 + i} " +
        s"id ACC-${12345 + i} 〒100-${1000 + i} 東京都新宿区西 新宿 山田太郎さん mail u$i@ex.com"))
    val rows = DataGen.pages(spark, 400, partitions = 4).collect().toSeq
      .map(p => p.url -> p.text) ++ planted
    val df = pagesDf(rows)
    for (mode <- Seq("dict", "ref", "tags")) {
      val conf = Pipeline.Conf(scrubMode = mode)
      val got = Pipeline.run(spark, df, conf)
        .select(col("url"), map_keys(col("alias_dict")), map_values(col("alias_dict")),
          map_keys(col("n_hits")), map_values(col("n_hits")))
        .collect().map(r => r.getString(0) -> ((r.getSeq[String](1).zip(r.getSeq[String](2)),
          r.getSeq[String](3).zip(r.getSeq[Long](4)))))
        .toMap
      var manyKinds = 0
      rows.foreach { case (url, t) =>
        val d = Scrub.scrubWithMode(mode, t, conf.keyB64, conf.ns, "")
        if (d.counts.size > 4) manyKinds += 1
        assert(got(url) == ((d.aliases.toSeq, d.counts.toSeq)), s"mode=$mode url=$url")
      }
      // past four entries an immutable Map iterates in hash order
      if (mode != "ref") assert(manyKinds >= 20, mode)
    }
  }

  test("page_stages byte-path decode matches the core String path on tricky unicode") {
    // 1-, 2-, 3- and 4-byte UTF-8 sequences (the 4-byte emoji become
    // surrogate PAIRS in the char view — offsets/metrics must match the
    // String path exactly), plus PII so the scrub rebuilds text, plus a
    // clean row exercising the forward-the-input-UTF8String path
    val rows = Seq(
      "plain ascii with mail a@b.cc and tel 03-1234-5678 in the text",
      "naïve café über straße — déjà vu from the west wind",
      "東京都の山田太郎は静かな部屋で本を読んでいます 郵便は〒100-0001 です",
      "emoji soup 😀🌍 pays ¥1,234 to 🤖 id ACC-99999 ok",
      "😀" * 40, // only 4-byte sequences
      "clean short row of plain words that the scrub never touches at all")
    val urls = rows.indices.map(i => s"https://u.example/$i")
    val df = pagesDf(urls.zip(rows))
    assertMatchesCore(df, urls.zip(rows).toMap)
    // the untouched row comes back byte-identical to its input
    val clean = Pipeline.run(spark, df)
      .where(col("url") === "https://u.example/5")
      .select("scrubbed_text").head().getString(0)
    assert(clean == rows(5))
  }

  test("page_stages stays inside whole-stage codegen over a parquet scan") {
    val base = spark.read.parquet(TestData("sf0.001/documents.parquet"))
    val df = base.selectExpr(
      "page_stages(text, 'dict', '', '') AS r").select("r.lang_id", "r.q.nWords")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(!plan.contains("UDF"), plan)
    assert(df.collect().length == 500)
  }

  test("page_stages on null text scores as the empty string (drops as too_short)") {
    val ok = "the quick brown fox is on the mat and the dog is in the park today"
    val df = pagesDf(Seq("https://a.example/null" -> null, "https://a.example/ok" -> ok))
    assertMatchesCore(df, Map("https://a.example/null" -> null, "https://a.example/ok" -> ok))
    val out = engine(df, Pipeline.Conf())
    assert(!out("https://a.example/null")._5 && out("https://a.example/null")._6 == "too_short")
    assert(out("https://a.example/ok")._5)
  }

  test("install registers only the functions a session lacks") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
    // fresh session states: the shared session's registry stays untouched
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    // a function the session already has under the graft name stays as it is
    val mine = new ExpressionInfo("test", "page_stages")
    registry.registerFunction(FunctionIdentifier("page_stages"), mine,
      (_: Seq[Expression]) => Literal(7L))
    GraftExtensions.install(s)
    GraftExtensions.install(s)
    assert(registry.lookupFunction(FunctionIdentifier("page_stages")).contains(mine))
    assert(s.sql("SELECT page_stages('x')").head().getLong(0) == 7L)
    // a session that lacks them gets each once, still resolving after the
    // second install
    val fresh = spark.newSession()
    GraftExtensions.install(fresh)
    GraftExtensions.install(fresh)
    GraftExtensions.registrations.foreach { case (name, _, _) =>
      assert(fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)), name)
    }
    val r = fresh.sql("SELECT page_stages('mail a@b.cc now', 'tags', '', '').scrubbed")
    assert(r.head().getString(0) == "mail <EMAIL> now")
  }
}
