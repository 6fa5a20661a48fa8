package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The single-scan Quality.metrics must agree with the naive
  * tokenize-then-count implementation on everything that matters. */
class QualityScanSpec extends AnyFunSuite {

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-12

  private def assertSame(text: String): Unit = {
    val fast = Quality.metrics(text)
    val slow = Quality.metricsNaive(text)
    assert(fast.nChars == slow.nChars, s"nChars: ${text.take(50)}")
    assert(fast.nWords == slow.nWords, s"nWords: ${text.take(50)}")
    assert(close(fast.meanWordLen, slow.meanWordLen), s"meanWordLen: ${text.take(50)}")
    assert(close(fast.stopwordRatio, slow.stopwordRatio), s"stopwordRatio: ${text.take(50)}")
    assert(close(fast.symbolRatio, slow.symbolRatio), s"symbolRatio: ${text.take(50)}")
    assert(close(fast.dupLineFrac, slow.dupLineFrac), s"dupLineFrac: ${text.take(50)}")
    assert(close(fast.dupWordFrac, slow.dupWordFrac), s"dupWordFrac: ${text.take(50)}")
    assert(close(fast.alphaWordRatio, slow.alphaWordRatio), s"alphaWordRatio: ${text.take(50)}")
    assert(fast.maxWordLen == slow.maxWordLen, s"maxWordLen: ${text.take(50)}")
    assert(close(fast.cjkRatio, slow.cjkRatio), s"cjkRatio: ${text.take(50)}")
  }

  test("scan metrics == naive metrics on hand cases") {
    Seq("", " ", "\n", "a", "the the the", "a b c\na b c\na b c",
      "  leading and trailing  ", "tab\tsep\nlines\n\n", "x\n",
      "山田太郎さんは東京都に住んでいます", "MiXeD CaSe THE The the",
      "¥1,234 !!! @@@ ###", "one-word", "a" * 100,
      "word " * 50 + "\n" + "word " * 50,
      // String lowercase differs from per-char lowercase: İ → i + U+0307,
      // final sigma, a supplementary capital (U+10400 → U+10428)
      "İstanbul İSTANBUL istanbul", "ΟΔΟΣ οδος", "Σ ΑΣ ασ", "\uD801\uDC00 \uD801\uDC28",
      "\uD835\uDFCF \uD801").foreach(assertSame)
  }

  test("scan metrics == naive metrics on generated corpus") {
    (0L until 400L).foreach { id =>
      assertSame(graft.spark.DataGen.pageFor(id).text)
    }
  }

  test("scan metrics == naive metrics property (random ASCII + unicode)") {
    // the last branch: units whose case or class is unusual (dotted and
    // dotless i, a titlecase digraph, sigma, sharp s, a fullwidth digit,
    // a supplementary digit's surrogates, Hangul, U+00A0, U+3000, U+000B)
    val gen = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\n', '\t', '.', ',', '!', '¥', '@'),
      1 -> Gen.oneOf('山', '田', 'の', 'ア', '中', '文'),
      1 -> Gen.const('e'),
      2 -> Gen.oneOf('İ', 'ı', 'ǅ', 'Σ', 'ß', '１', '\uD835', '\uDFCF', '한', '국',
        '\u00A0', '\u3000', '\u000B')
    )).map(_.mkString)
    (0 until 500).foreach { i =>
      gen.apply(Gen.Parameters.default.withSize(1 + i % 200), Seed(i.toLong))
        .foreach(assertSame)
    }
  }

  test("LongHashSet.clear of a grown set: size, contains and add stay correct") {
    // 5,000 keys stay at 8,192 slots (cleared slot by slot); 20,000 grow
    // past it (cleared by shrinking to a fresh table)
    Seq(5000, 20000).foreach { n =>
      val s = new LongHashSet(64)
      val old = (0L until n.toLong).map(_ * 7919L) // includes the zero key
      old.foreach(k => assert(s.add(k)))
      assert(s.size == n)
      s.clear()
      assert(s.size == 0, s"n=$n")
      assert(!old.exists(s.contains), s"n=$n: an old key survived clear")
      val again = old.take(n / 2) // the zero key is among them
      val fresh = (1L to 300L).map(_ * -104729L)
      again.foreach(k => assert(s.add(k), s"n=$n: old key $k not re-added"))
      fresh.foreach(k => assert(s.add(k), s"n=$n: new key $k not added"))
      assert(!s.add(0L) && !s.add(fresh.head))
      assert(s.size == again.size + fresh.size)
      assert(again.forall(s.contains) && fresh.forall(s.contains))
      assert(!old.drop(n / 2).exists(s.contains))
    }
  }
}
