package graft.spark

import graft.core.{Scrub, TextDedup}
import graft.spark.expressions.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native Catalyst expressions must (a) agree with the core functions,
  * (b) stay inside whole-stage codegen (the point of having them). */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    GraftExtensions.install(s)
    s
  }

  test("scrub_tags expression == core Scrub.scrubTags on planted PII docs") {
    import spark.implicits._
    val texts = (0L until 200L).map(i =>
      s"doc $i mail u$i@ex.com tel 03-1234-${1000 + i % 9000} pay ¥${1 + i % 9},123 id ACC-${10000 + i}")
    val got = texts.toDF("text")
      .selectExpr("scrub_tags(text) AS s").as[String].collect()
    assert(got.toSeq == texts.map(Scrub.scrubTags(_)))
  }

  test("fingerprint64/simhash64 expressions == core functions") {
    import spark.implicits._
    val texts = (0L until 200L).map(DataGen.pageFor(_).text)
    val rows = texts.toDF("text")
      .selectExpr("fingerprint64(text) AS f", "simhash64(text) AS h")
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getLong(0) == TextDedup.fingerprint(t))
      assert(r.getLong(1) == TextDedup.simHash(t))
    }
  }

  test("expressions run inside whole-stage codegen (no ScalaUDF shim)") {
    // a parquet scan, not a local relation — local relations are evaluated
    // eagerly and would hide the codegen question entirely
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = base.selectExpr("scrub_tags(text) AS s", "simhash64(text) AS h")
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the simpleString marker for a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [scrub_tags"), plan)
    assert(df.collect().length == 500) // force execution through codegen
    assert(!plan.contains("UDF"), plan)
    val udfPlan = base.select(PiiFunctions.scrubTagsUdf(col("text")))
      .queryExecution.executedPlan.toString
    assert(udfPlan.contains("UDF"), udfPlan)
  }

  test("page_stages expression == broadcast-UDF pipeline row-for-row") {
    val pages = DataGen.pages(spark, 400, partitions = 4).toDF()
    def proj(nat: Boolean) =
      Pipeline.run(spark, pages, Pipeline.Conf(scrubMode = "ref", nativeStages = nat))
        .select("url", "lang_id", "lang_conf", "ppl", "keep", "drop_reason",
          "scrubbed_text")
        .collect().map(r => r.toSeq).sortBy(_.head.toString)
    assert(proj(nat = true).toSeq == proj(nat = false).toSeq)
    // dict mode too (aliases/counts maps)
    def maps(nat: Boolean) =
      Pipeline.run(spark, pages, Pipeline.Conf(nativeStages = nat))
        .select(col("url"), col("alias_dict"), col("n_hits"))
        .collect().map(r => (r.getString(0),
          r.getMap[String, String](1).toMap, r.getMap[String, Long](2).toMap))
        .sortBy(_._1)
    assert(maps(nat = true).toSeq == maps(nat = false).toSeq)
  }

  test("page_stages byte-path decode matches the UDF String path on tricky unicode") {
    import spark.implicits._
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
    val df = rows.zipWithIndex
      .map { case (t, i) => (s"https://u.example/$i", new java.sql.Timestamp(0L),
        Array.emptyByteArray, t, "en") }
      .toDF("url", "warc_ts", "html", "text", "lang")
    def run(nat: Boolean) =
      Pipeline.run(spark, df, Pipeline.Conf(nativeStages = nat))
        .select("url", "lang_id", "lang_conf", "ppl", "quality", "keep",
          "drop_reason", "scrubbed_text", "alias_dict", "n_hits")
        .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(run(nat = true).toSeq == run(nat = false).toSeq)
    // the untouched row comes back byte-identical to its input
    val clean = Pipeline.run(spark, df)
      .where(col("url") === "https://u.example/5")
      .select("scrubbed_text").head().getString(0)
    assert(clean == rows(5))
  }

  test("page_stages stays inside whole-stage codegen over a parquet scan") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = base.selectExpr(
      "page_stages(text, 'dict', '', '') AS r").select("r.lang_id", "r.q.nWords")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(!plan.contains("UDF"), plan)
    assert(df.collect().length == 500)
  }

  test("page_stages on null text agrees with the UDF path (drops as too_short)") {
    import spark.implicits._
    val df = Seq[(String, java.sql.Timestamp, Array[Byte], String, String)](
      ("https://a.example/null", new java.sql.Timestamp(0L), Array.emptyByteArray,
        null, "en"),
      ("https://a.example/ok", new java.sql.Timestamp(0L), Array.emptyByteArray,
        "the quick brown fox is on the mat and the dog is in the park today", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    for (native <- Seq(true, false)) {
      val out = Pipeline.run(spark, df, Pipeline.Conf(nativeStages = native))
        .select("url", "keep", "drop_reason", "scrubbed_text")
        .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2)))
        .toMap
      assert(out("https://a.example/null") == (false, "too_short"),
        s"native=$native: ${out("https://a.example/null")}")
      assert(out("https://a.example/ok")._1, s"native=$native")
    }
  }

  test("install registers only the functions a session lacks") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
    // a fresh session state: the shared session's registry stays untouched
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    // a function the session already has under a graft name stays as it is
    val mine = new ExpressionInfo("test", "fingerprint64")
    registry.registerFunction(FunctionIdentifier("fingerprint64"), mine,
      (_: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => Literal(7L))
    GraftExtensions.install(s)
    GraftExtensions.install(s)
    assert(registry.lookupFunction(FunctionIdentifier("fingerprint64")).contains(mine))
    assert(s.sql("SELECT fingerprint64('x')").head().getLong(0) == 7L)
    // the rest are registered once and still resolve after the second install
    GraftExtensions.registrations.foreach { case (name, _, _) =>
      assert(registry.functionExists(FunctionIdentifier(name)), name)
    }
    val r = s.sql("SELECT page_stages('mail a@b.cc now', 'tags', '', '').scrubbed")
    assert(r.head().getString(0) == "mail <EMAIL> now")
  }

  test("null handling: expression yields null on null input") {
    import spark.implicits._
    val got = Seq[(java.lang.Long, String)]((1L, null), (2L, "a@b.cc x"))
      .toDF("id", "text")
      .selectExpr("id", "scrub_tags(text) AS s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet == Set((1L, null), (2L, "<EMAIL> x")))
  }
}
