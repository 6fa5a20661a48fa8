package graft.core

import graft.spark.DataGen
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The table-driven kernels equal the per-char loops they replaced
  * ([[LegacyKernels]]), bit for bit: langid's (lang, confidence) with the
  * confidence compared by its raw bits, perplexity likewise, and the dedup
  * fingerprint. Run on DataGen pages and on generated text that mixes
  * scripts, case oddities, surrogate pairs and every whitespace kind, with
  * docs past langid's 4,096-char prefix and empty or blank docs. The
  * langid trainer also regenerates the committed default model. */
class CharKernelDiffSpec extends AnyFunSuite {

  private val odd: Seq[String] = Seq("İ", "ı", "ǅ", "Σ", "ς", "ß", "１", "Ａ", "É",
    "\uD835\uDFCF", "\uD83D\uDE00", "\uD840\uDC00", "한", "국", "\u00A0", "\u3000",
    "\u000B", "\u2028", "\t", "\n", "\u2003", "  ", "\uD835", "\uDFCF")

  private val word: Gen[String] = Gen.frequency(
    6 -> Gen.choose(1, 9).flatMap(Gen.stringOfN(_, Gen.alphaChar)),
    2 -> Gen.choose(1, 6).flatMap(Gen.stringOfN(_, Gen.oneOf(
      Gen.choose('一', '龠'), Gen.choose('ぁ', 'ゔ'), Gen.choose('ァ', 'ヶ'),
      Gen.choose('가', '힣')))),
    2 -> Gen.choose(1, 6).flatMap(Gen.stringOfN(_, Gen.oneOf(
      Gen.choose('À', 'ÿ'), Gen.choose('Α', 'ω'), Gen.choose('А', 'я')))),
    1 -> Gen.choose(1, 6).flatMap(Gen.stringOfN(_, Gen.numChar)),
    3 -> Gen.oneOf(odd),
    1 -> Gen.oneOf(".", ",", "!", "@", "¥", "-"))

  private val shortDoc: Gen[String] =
    Gen.choose(0, 60).flatMap(Gen.listOfN(_, word)).map(_.mkString)

  /** Mixed-script text, blank docs, and docs past the 4,096-char prefix. */
  private val doc: Gen[String] = Gen.frequency(
    8 -> shortDoc,
    2 -> Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf(" ", "\t", "\n",
      "\u00A0", "\u3000", "\u000B"))).map(_.mkString),
    2 -> Gen.zip(shortDoc, Gen.choose(4000, 9000)).map { case (s, n) =>
      val base = if (s.isEmpty) "x y " else s + " "
      (base * (n / base.length + 1)).take(n)
    })

  private val generated: Seq[String] =
    Seq("", " ", "　", "a") ++ (0 until 600).flatMap { i =>
      doc.apply(Gen.Parameters.default.withSize(1 + i % 100), Seed(0x1A96L + i))
    }

  private val pages: Seq[String] = (0L until 400L).map(DataGen.pageFor(_).text)

  /** A model assembled from the gram counts of DataGen pages of five of
    * the six languages: a language count and vocabulary unlike the
    * default's. */
  private lazy val trained: LangIdModel = {
    val docs = (0L until 300L).map(DataGen.pageFor(_)).filter(_.lang != "fr")
    val counts = docs.flatMap(p => LangId.grams(p.text).map(p.lang -> _))
      .groupBy(identity).map { case ((l, g), xs) => (l, g, xs.size.toLong) }.toSeq
    LangId.fromCounts(counts.map(_._1).distinct.sorted, counts)
  }

  private def assertLangIdSame(m: LangIdModel, texts: Seq[String]): Unit =
    texts.foreach { t =>
      val (l1, c1) = m.classify(t)
      val (l0, c0) = LegacyKernels.classify(m, t)
      assert(l1 == l0 && java.lang.Double.doubleToRawLongBits(c1) ==
        java.lang.Double.doubleToRawLongBits(c0),
        s"($l1, $c1) != ($l0, $c0) on ${t.take(60)}")
    }

  test("langid is bit-identical to the per-char loop with the default model") {
    assertLangIdSame(LangId.default, pages)
    assertLangIdSame(LangId.default, generated)
  }

  test("langid is bit-identical to the per-char loop with a trained five-language model") {
    assert(trained.langs.length == 5 && trained.langs.length != LangId.default.langs.length)
    assertLangIdSame(trained, pages)
    assertLangIdSame(trained, generated)
  }

  test("trainer regenerates the committed langid artifact byte-identically") {
    val committed = ModelIo.resource("/graft/langid.bin").readAllBytes()
    assert(java.util.Arrays.equals(committed, ModelIo.writeLangId(LangId.trainDefault)))
  }

  test("langid reads a CharsView as it reads the String") {
    val v = new CharsView
    (pages.take(50) ++ generated.take(200)).foreach { t =>
      val (l1, c1) = LangId.default.classify(v.set(t.toCharArray, t.length))
      val (l0, c0) = LegacyKernels.classify(LangId.default, t)
      assert(l1 == l0 && java.lang.Double.doubleToRawLongBits(c1) ==
        java.lang.Double.doubleToRawLongBits(c0), t.take(60))
    }
  }

  test("perplexity and the dedup fingerprint equal the per-char loops") {
    (pages ++ generated).foreach { t =>
      Perplexity.bank.values.foreach { m =>
        assert(java.lang.Double.doubleToRawLongBits(m.perplexity(t)) ==
          java.lang.Double.doubleToRawLongBits(LegacyKernels.perplexity(m, t)), t.take(60))
      }
      assert(TextDedup.fingerprint(t) == LegacyKernels.fingerprint(t), t.take(60))
    }
  }
}
