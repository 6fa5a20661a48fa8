package graft.spark

import graft.core.{Detect, GopherRepetition, HtmlText, Quality, Scrub}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial documents of about 1 MB each, one per family: the shapes that
  * make a backtracking scan or a per-line/per-token stage super-linear. */
object HostileDocs {

  final case class Doc(family: String, text: String, html: Array[Byte])

  private def htmlOf(text: String): Array[Byte] =
    ("<html><body>" + text.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;") + "</body></html>").getBytes("UTF-8")

  private def fill(prefix: String, size: Int)(unit: java.lang.StringBuilder => Unit): String = {
    val sb = new java.lang.StringBuilder(size + 64).append(prefix)
    while (sb.length < size) unit(sb)
    sb.toString
  }

  /** Every family at about `size` chars, generated from a fixed seed. */
  def all(size: Int): Seq[Doc] = {
    val rnd = new java.util.Random(17)
    val alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
    val words = Vector("the", "river", "report", "a@b.co", "03-1234-5678", "of",
      "¥1,234", "ACC-12345", "山田太郎さん", "〒123-4567", "and", "library")
    val texts = Seq(
      // an @ before one long local-part run: the unguarded email branch
      // rescans the run from every offset
      "at_alnum_run" -> fill("Please write to a@b.co today. ", size)(
        _.append(alnum.charAt(rnd.nextInt(alnum.length)))),
      // a postal match ends inside the run every 8 chars, so a scan
      // resumes mid-run 125k times
      "postal_chain" -> fill("mail a@b.co ", size)(_.append("x1234567")),
      "phone_chain" -> fill("mail a@b.co ", size)(_.append("03-1234-5678z")),
      "all_at" -> fill("", size)(_.append('@')),
      // a kanji run with 都 or 市 every 9-16 chars: address's {1,10} and
      // {1,15} windows find a prefecture and a city char at most offsets
      "kanji_pref_city" -> fill("", size) { sb =>
        for (_ <- 0 until 8 + rnd.nextInt(8)) sb.append((0x4E00 + rnd.nextInt(0x51A0)).toChar)
        sb.append(if (rnd.nextBoolean()) '都' else '市')
      },
      // runs of 1-4 digits and whitespace in turn, with a ',' or '-' now
      // and then: amount, postal and phone start at most units and run
      // their digit windows
      "digit_space" -> fill("", size) { sb =>
        for (_ <- 0 to rnd.nextInt(4)) sb.append(('0' + rnd.nextInt(10)).toChar)
        sb.append(" \u3000 \n ,-".charAt(rnd.nextInt(7)))
      },
      "long_line" -> fill("", size)(_.append(words(rnd.nextInt(words.size))).append(' ')),
      "repeated_lines" -> fill("", size)(_.append("x@ab.co 12\n")))
    val docs = texts.map { case (f, t) => Doc(f, t, htmlOf(t)) }
    // html whose body is not valid UTF-8: stray continuation bytes,
    // truncated 2- and 3-byte sequences and 0xFF among email-ish ASCII
    val bad = new java.io.ByteArrayOutputStream(size + 64)
    bad.write("<html><body>".getBytes("UTF-8"))
    val chunks = Array("a@b.co ".getBytes("UTF-8"), Array(0xFF.toByte),
      Array(0x80.toByte, 'x'.toByte), Array(0xC3.toByte), Array(0xE3.toByte, 0x81.toByte),
      "1234567".getBytes("UTF-8"))
    while (bad.size < size) {
      val c = chunks(rnd.nextInt(chunks.length))
      bad.write(c, 0, c.length)
    }
    bad.write("</body></html>".getBytes("UTF-8"))
    val badHtml = bad.toByteArray
    docs :+ Doc("invalid_utf8_html", HtmlText.extract(badHtml), badHtml)
  }
}

/** Per-doc cost stays bounded on adversarial input: each 1 MB hostile doc
  * must clear every text stage, and the fused `page_stages` expression on a
  * one-row frame, within a fixed budget. A quadratic scan takes minutes on
  * these docs, so it fails the budget by orders of magnitude; the budget
  * itself leaves headroom for a slow or busy host. */
class HostileBudgetSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val BudgetSec = 3.0
  private val key = "Z3JhZnQtc3BhcmstcGlpLWRlZmF1bHQta2V5IQ=="
  private lazy val docs = HostileDocs.all(1000000)
  // the same families at 1/50 the size, run untimed first so the budget
  // does not time the JIT
  private lazy val warmDocs = HostileDocs.all(20000)

  private def within(what: String)(f: => Any): Unit = {
    val t0 = System.nanoTime()
    f
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"$what: $sec%.3f s")
    assert(sec < BudgetSec, f"$what took $sec%.1f s (budget $BudgetSec%.0f s)")
  }

  private val toxicity = Toxicity.Matcher(Toxicity.DefaultList)
  private val textStages: Seq[(String, HostileDocs.Doc => Any)] = Seq(
    "scrub dict" -> (d => Scrub.scrubWithModeRaw("dict", d.text, key, "ns", "")),
    "scrub tags" -> (d => Scrub.scrubWithModeRaw("tags", d.text, key, "ns", "")),
    "scrub ref" -> (d => Scrub.scrubWithModeRaw("ref", d.text, key, "ns", "")),
    "detectAll" -> (d => Detect.detectAll(d.text)),
    "HtmlText" -> (d => HtmlText.extract(d.html)),
    "Quality.metrics" -> (d => Quality.metrics(d.text)),
    // the five per-doc fractions of the q_gopher_ngrams query
    "GopherRepetition" -> { d =>
      val toks = Quality.tokens(d.text)
      (2 to 4).map(GopherRepetition.topNgramCharFracMilli(toks, _)) ++
        Seq(5, 10).map(GopherRepetition.dupNgramCharFracMilli(toks, _))
    },
    "Toxicity regex" -> { d =>
      val m = java.util.regex.Pattern.compile(Toxicity.pattern()).matcher(d.text)
      var n = 0
      while (m.find()) n += 1
      n
    },
    "Toxicity count" -> (d => toxicity.countIn(d.text)),
    "Toxicity mask" -> (d => toxicity.scrubIn(d.text)),
    "NER gazetteer" -> (d => NerSlot.defaultModel.hitsOf(d.text)))

  test("every text stage clears each 1 MB hostile doc within the budget") {
    for ((_, stage) <- textStages; d <- warmDocs) stage(d)
    for ((name, stage) <- textStages; d <- docs) within(s"$name ${d.family}")(stage(d))
  }

  test("page_stages clears each 1 MB hostile doc within the budget") {
    import spark.implicits._
    def oneRow(d: HostileDocs.Doc) = {
      val df = spark.sparkContext.parallelize(Seq(
        Page(s"https://hostile-${d.family}.example/", new java.sql.Timestamp(0L),
          d.html, d.text, "en")), 1).toDF()
      // the invalid-UTF-8 family reaches the expression as raw bytes: a
      // binary-to-string cast does not validate
      if (d.family == "invalid_utf8_html") df.withColumn("text", col("html").cast("string"))
      else df
    }
    def run(conf: Pipeline.Conf)(d: HostileDocs.Doc): Long =
      Pipeline.run(spark, oneRow(d), conf).select("scrubbed_text", "keep").collect().length.toLong
    // the default stage, then with model NER and a toxicity bank in it too
    val confs = Seq("page_stages" -> Pipeline.Conf(),
      "page_stages enhanced+toxicity" -> Pipeline.Conf(
        security = Pipeline.SecurityLevel.Enhanced,
        toxicityByLang = Some(Map("*" -> Toxicity.DefaultList))))
    for ((name, conf) <- confs) {
      warmDocs.foreach(run(conf))
      docs.foreach(d => within(s"$name ${d.family}")(assert(run(conf)(d) == 1L)))
    }
  }
}
