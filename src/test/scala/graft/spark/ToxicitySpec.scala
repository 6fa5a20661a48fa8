package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import ToxicityPropsSpec.regexCount

/** Toxicity blocklist: boundary semantics, scrub masking, C4 drop rule,
  * and the automaton's equivalence with the regex reference
  * ([[Toxicity.pattern]], the form the oracle mirrors). */
class ToxicitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val cases = Seq(
    "what the Hell happened" -> 1L,            // case-insensitive
    "a shell on the shore" -> 0L,              // substring, no boundary
    "hellish weather today" -> 0L,             // prefix, no boundary
    "damn. Damn, DAMN!" -> 3L,                 // punctuation boundaries
    "crap_count is a variable" -> 0L,          // underscore is a word char
    "clean text with no matches at all" -> 0L,
    "damn crap hell" -> 3L,
    // CJK-adjacent: the ASCII boundary counts these (Java's Unicode \b
    // would not — the pattern spells the boundary out with lookarounds
    // precisely so the automaton, the pattern and the RE2 oracle agree)
    "damn山 and 山damn and クソdamnクソ" -> 3L,
    "くそHellくそ" -> 1L)

  private lazy val defaultBank =
    spark.sparkContext.broadcast(Toxicity.LangBank(Map("*" -> Toxicity.DefaultList)))
  private def countCol(t: Column): Column = Toxicity.countByLangUdf(defaultBank)(lit("*"), t)

  test("automaton UDFs: boundary-exact counts, scrub masks in place, C4 drop") {
    import spark.implicits._
    val df = cases.map(_._1).toDF("t")
      .select(col("t"), countCol(col("t")).as("n"),
        Toxicity.scrubByLangUdf(defaultBank)(lit("*"), col("t")).as("s"))
      .withColumn("d", col("n") > 0)
    val rows = df.collect()
    rows.zip(cases).foreach { case (r, (in, want)) =>
      assert(r.getLong(1) == want, s"count for '$in'")
      assert(r.getBoolean(3) == (want > 0L), s"drop for '$in'")
      if (want > 0)
        assert(r.getString(2).contains("<TOXIC>"), s"mask missing for '$in'")
      else assert(r.getString(2) == in, s"clean text altered: '$in'")
    }
    // scrub is idempotent: masked text has zero hits
    import spark.implicits._
    val rescrub = rows.map(_.getString(2)).toSeq.toDF("t")
      .select(countCol(col("t"))).collect().map(_.getLong(0))
    assert(rescrub.forall(_ == 0L))
    // total on null text: count 0, not null
    val nullRow = spark.sql("SELECT CAST(NULL AS STRING) t")
      .select(countCol(col("t"))).head()
    assert(!nullRow.isNullAt(0) && nullRow.getLong(0) == 0L)
  }

  test("pipeline toxicity stage: lowest-priority drop, count surfaced, " +
      "default conf unchanged") {
    import spark.implicits._
    val pages = Seq(
      ("https://t.example/1", new java.sql.Timestamp(0L), Array.empty[Byte],
        "The library opens at nine in the morning and closes at eight in " +
          "the evening. Most readers scan the first damn page of a report " +
          "and then move on to other work without any delay at all.", "en"),
      ("https://t.example/2", new java.sql.Timestamp(0L), Array.empty[Byte],
        "The library opens at nine in the morning and closes at eight in " +
          "the evening. Most readers scan the first page of a report and " +
          "then move on to other work without any delay at all.", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val out = Pipeline.run(spark, pages,
      Pipeline.Conf(toxicityByLang = Some(Map("*" -> Toxicity.DefaultList))))
      .select("url", "keep", "drop_reason", "n_toxic")
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(1), r.getString(2), r.getLong(3))).toMap
    assert(out("https://t.example/1") == ((false, "toxicity", 1L)))
    assert(out("https://t.example/2") == ((true, "", 0L)))
    // default conf: no n_toxic column, doc 1 keeps (reference is PII-only)
    val dflt = Pipeline.run(spark, pages)
    assert(!dflt.columns.contains("n_toxic"))
    assert(dflt.where(col("keep")).count() == 2)
    // lenient threshold: the survivor's OUTPUT text carries the mask —
    // PII/toxicity-scrub means a kept doc never ships a listed term
    val lenient = Pipeline.run(spark, pages, Pipeline.Conf(
      toxicityByLang = Some(Map("*" -> Toxicity.DefaultList)), toxicityMaxHits = 5L))
      .where(col("url") === "https://t.example/1")
      .select("keep", "scrubbed_text").head()
    assert(lenient.getBoolean(0))
    assert(lenient.getString(1).contains("<TOXIC>") &&
      !lenient.getString(1).contains("damn"), lenient.getString(1))
  }

  test("the pipeline evaluates the toxicity count once per row") {
    import spark.implicits._
    // an RDD source: a local one would be folded into the plan's literals
    val pages = spark.sparkContext.parallelize(Seq(
      ("https://t.example/1", new java.sql.Timestamp(0L), Array.empty[Byte],
        "Most readers scan the first damn page of a report and move on.", "en")), 1)
      .toDF("url", "warc_ts", "html", "text", "lang")
    val scored = Pipeline.run(spark, pages,
      Pipeline.Conf(toxicityByLang = Some(Map("*" -> Toxicity.DefaultList))))
    // count, drop and mask all run inside the fused stage: no ScalaUDF in
    // the plan, and one page_stages whatever reads keep
    for (df <- Seq(scored, scored.where(col("keep")), scored.where(!col("keep")))) {
      val plan = df.queryExecution.executedPlan
      val exprs = plan.collect { case node => node.expressions }.flatten
      val udfs = exprs.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u })
      val stages = exprs.flatMap(_.collect {
        case e: graft.spark.expressions.PageStagesExpr => e })
      assert(udfs.isEmpty && stages.size == 1,
        s"ScalaUDFs: ${udfs.size}, page_stages: ${stages.size}\n$plan")
    }
    assert(scored.select("drop_reason", "n_toxic").head() == org.apache.spark.sql.Row("toxicity", 1L))
  }

  test("a 100-term list gives the same pipeline output as its two hot terms") {
    import spark.implicits._
    // the 98 padding terms occur in neither page, so the output must equal
    // the run over the two terms that do
    val hot = Seq("damn", "hell")
    val bigList = hot ++ Toxicity.syntheticList(98)
    assert(bigList.distinct.size == 100)
    val pages = Seq(
      ("https://t.example/1", new java.sql.Timestamp(0L), Array.empty[Byte],
        "The library opens at nine in the morning and closes at eight in " +
          "the evening. Most readers scan the first damn page of a report " +
          "and then move on to other work without any delay at all.", "en"),
      ("https://t.example/2", new java.sql.Timestamp(0L), Array.empty[Byte],
        "The library opens at nine in the morning and closes at eight in " +
          "the evening. Most readers scan the first page of a report and " +
          "then move on to other work without any delay at all.", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    def run(ws: Seq[String]) = Pipeline.run(spark, pages,
      Pipeline.Conf(toxicityByLang = Some(Map("*" -> ws)), toxicityMaxHits = 5L))
      .select("url", "keep", "n_toxic", "scrubbed_text")
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(1), r.getLong(2), r.getString(3))).toMap
    val big = run(bigList)
    assert(big == run(hot), "the 100-term list diverged from its hot terms")
    assert(big("https://t.example/1") ==
      ((true, 1L, "The library opens at nine in the morning and closes at eight in " +
        "the evening. Most readers scan the first <TOXIC> page of a report " +
        "and then move on to other work without any delay at all.")))
  }

  test("automaton scrub masks boundary-valid occurrences only") {
    val m = Toxicity.Matcher(Seq("damn", "hell"))
    assert(m.scrubIn("damn that Hell of a day") ==
      "<TOXIC> that <TOXIC> of a day")
    assert(m.scrubIn("a shell on hellish damnation") ==
      "a shell on hellish damnation") // substrings untouched
    assert(m.scrubIn("damn山hell") == "<TOXIC>山<TOXIC>")
    assert(m.scrubIn(null) == null)
  }

  test("per-language banks dispatch on the doc's own lang_id") {
    import spark.implicits._
    // en/ja/es prose (pool sentences the langid model classifies
    // correctly), each planted with BOTH languages' terms — only the
    // doc's OWN list may fire. The ja list is non-ASCII: the automaton
    // tier takes arbitrary terms (ASCII boundaries delimit CJK runs).
    val en = "The library opens at nine in the morning and closes at " +
      "eight in the evening. Most readers scan the first damn page of a " +
      "report クソ and move on to other work without any delay at all."
    val ja = "図書館は朝九時に開いて夜八時に閉まります クソの damn 多くの読者は" +
      "最初のページを読んでから他の仕事に移ります サポートチームは注文に関する質問に毎日答えています"
    val es = "La mayoria de los lectores revisan la primera damn pagina " +
      "y luego siguen con su trabajo. La biblioteca abre a las nueve de " +
      "la manana y cierra a las ocho de la tarde cada dia sin falta."
    val pages = Seq(
      ("https://t.example/en", new java.sql.Timestamp(0L), Array.empty[Byte], en, "en"),
      ("https://t.example/ja", new java.sql.Timestamp(0L), Array.empty[Byte], ja, "ja"),
      ("https://t.example/es", new java.sql.Timestamp(0L), Array.empty[Byte], es, "es"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val bank = Map("en" -> Seq("damn"), "ja" -> Seq("クソ"))
    val out = Pipeline.run(spark, pages, Pipeline.Conf(
      toxicityByLang = Some(bank), toxicityMaxHits = 9L))
      .select("url", "lang_id", "n_toxic", "scrubbed_text")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getString(3))).toMap
    val (enLang, enN, enS) = out("https://t.example/en")
    assert(enLang == "en" && enN == 1L, s"en: $enLang/$enN")
    assert(enS.contains("<TOXIC>") && enS.contains("クソ") && !enS.contains("damn"))
    val (jaLang, jaN, jaS) = out("https://t.example/ja")
    assert(jaLang == "ja" && jaN == 1L, s"ja: $jaLang/$jaN")
    assert(jaS.contains("<TOXIC>") && jaS.contains("damn") && !jaS.contains("クソ"))
    // es has no list and no fallback: untouched
    val (esLang, esN, esS) = out("https://t.example/es")
    assert(esLang == "es" && esN == 0L && esS.contains("damn"))
    // "*" fallback covers the unlisted language
    val withStar = Pipeline.run(spark, pages, Pipeline.Conf(
      toxicityByLang = Some(bank + ("*" -> Seq("damn"))), toxicityMaxHits = 9L))
      .where(col("url") === "https://t.example/es")
      .select("n_toxic", "scrubbed_text").head()
    assert(withStar.getLong(0) == 1L && withStar.getString(1).contains("<TOXIC>"))
  }

  test("loadList reads the UT1 one-term-per-line format, folds and dedupes") {
    val f = java.nio.file.Files.createTempFile("graft-toxlist", ".txt")
    java.nio.file.Files.writeString(f,
      "# comment line\ndamn\nDamn\n\n  hell  \ncrap\n#damn\nzot\n")
    val ws = Toxicity.loadList(spark, f.toString)
    assert(ws == Vector("damn", "hell", "crap", "zot"))
    // loaded list drives both tiers like any other
    assert(Toxicity.Matcher(ws).countIn("damn that Hell, zot!") == 3L)
  }

  test("listFromSpec parses SPARK_GRAFT_TOXICITY: default, file:, CSV, empty fails") {
    assert(Toxicity.listFromSpec(spark, "default") == Toxicity.DefaultList)
    val f = java.nio.file.Files.createTempFile("graft-toxspec", ".txt")
    java.nio.file.Files.writeString(f, "# list\nDamn\nzot\n")
    assert(Toxicity.listFromSpec(spark, s"file:$f") == Vector("damn", "zot"))
    assert(Toxicity.listFromSpec(spark, " damn, ,hell ") == Seq("damn", "hell"))
    val empty = intercept[IllegalArgumentException](Toxicity.listFromSpec(spark, " , "))
    assert(empty.getMessage.contains("SPARK_GRAFT_TOXICITY"), empty.getMessage)
    java.nio.file.Files.writeString(f, "# only a comment\n")
    intercept[IllegalArgumentException](Toxicity.listFromSpec(spark, s"file:$f"))
  }

  test("duplicate blocklist entries count once in BOTH tiers") {
    // "Damn" and "damn" are the same term after ASCII folding; an
    // un-deduped automaton would emit one hit per duplicate pattern while
    // the regex union still matches once per position — breaking the
    // pinned equivalence with the regex reference
    val dupes = Seq("damn", "Damn", "DAMN", "hell", "hell")
    val m = Toxicity.Matcher(dupes)
    val text = "damn that hell of a day"
    assert(m.countIn(text) == 2L, "automaton double-counted duplicates")
    import spark.implicits._
    val b = spark.sparkContext.broadcast(Toxicity.LangBank(Map("*" -> dupes)))
    val viaUdf = Seq(text).toDF("t")
      .select(Toxicity.countByLangUdf(b)(lit("*"), col("t"))).head().getLong(0)
    assert(viaUdf == 2L, "automaton UDF double-counted duplicates")
    assert(regexCount(dupes, text) == 2L, "regex reference diverged under duplicates")
  }

  test("automaton count equals the number of masked spans for overlapping term shapes") {
    // CJK terms have no ASCII word boundaries, so occurrences can OVERLAP
    // — count and scrub must agree on the one accepted (non-overlapping,
    // left-to-right) span set, not diverge (count-all vs mask-subset)
    val m = Toxicity.Matcher(Seq("ああ"))
    assert(m.countIn("あああ") == 1L)
    assert(m.scrubIn("あああ") == "<TOXIC>あ")
    assert(m.countIn("ああああ") == 2L)
    assert(m.scrubIn("ああああ") == "<TOXIC><TOXIC>")
    // plain ASCII words cannot overlap: count remains all-occurrences
    val w = Toxicity.Matcher(Seq("damn"))
    assert(w.countIn("damn damn DAMN") == 3L)
  }

  test("automaton tier agrees with the regex tier on every case") {
    val m = Toxicity.Matcher(Toxicity.DefaultList)
    cases.foreach { case (in, want) =>
      assert(m.countIn(in) == want, s"automaton count for '$in'")
      assert(regexCount(Toxicity.DefaultList, in) == want, s"regex count for '$in'")
    }
    assert(m.countIn(null) == 0L)
    // and across a generated corpus slice with toxic fragments PLANTED
    // (the raw pool contains no blocklist words — an unplanted sweep
    // would only ever compare 0 == 0), exercising the broadcast UDF path
    import spark.implicits._
    val planted = DataGen.pages(spark, 300).toDF()
      .withColumn("t", concat(col("text"),
        when(pmod(hash(col("url")), lit(3)) === 0, lit(" damn山 hell"))
          .when(pmod(hash(col("url")), lit(3)) === 1, lit(" so Crap, ok"))
          .otherwise(lit(" clean tail"))))
    val viaUdf = planted.select(col("t"), countCol(col("t")).as("n_auto")).collect()
    assert(viaUdf.exists(_.getLong(1) > 0L), "planting produced no hits")
    viaUdf.foreach { r =>
      assert(r.getLong(1) == regexCount(Toxicity.DefaultList, r.getString(0)),
        s"tier divergence on: ...${r.getString(0).takeRight(40)}")
    }
  }
}
