package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Every entry of the [[CharClass]] tables equals the call it replaces, for
  * all 65,536 UTF-16 units: the kernels that read the tables then compute
  * what their per-char `Character` calls computed. */
class CharClassSpec extends AnyFunSuite {

  private val units: IndexedSeq[Char] = (0 to 0xFFFF).map(_.toChar)

  private def cjkScript(c: Char): Boolean = {
    val s = Character.UnicodeScript.of(c.toInt)
    s == Character.UnicodeScript.HAN || s == Character.UnicodeScript.HIRAGANA ||
      s == Character.UnicodeScript.KATAKANA || s == Character.UnicodeScript.HANGUL
  }

  private def assertAll(what: String)(same: Char => Boolean): Unit = {
    val wrong = units.filterNot(same)
    assert(wrong.isEmpty,
      s"$what differs at ${wrong.take(5).map(c => f"U+${c.toInt}%04X").mkString(", ")}")
  }

  test("class bits equal isLetter, isDigit, isWhitespace and the CJK scripts at every unit") {
    assertAll("Letter")(c => CharClass.isLetter(c) == Character.isLetter(c))
    assertAll("Digit")(c => CharClass.isDigit(c) == Character.isDigit(c))
    assertAll("Space")(c => CharClass.isWhitespace(c) == Character.isWhitespace(c))
    assertAll("Cjk")(c => ((CharClass.of(c) & CharClass.Cjk) != 0) == cjkScript(c))
    assertAll("of")(c => (CharClass.of(c) & ~0x1F) == 0)
  }

  test("CaseCtx marks every unit whose String lowercase can differ from toLowerCase") {
    def caseCtx(c: Char) = (CharClass.of(c) & CharClass.CaseCtx) != 0
    // alone, after a cased letter, and between two (final sigma reads both
    // sides); surrogates are read as pairs, at the high unit
    assertAll("CaseCtx")(c => caseCtx(c) || Character.isLowSurrogate(c) || {
      val l = Character.toLowerCase(c).toString
      Seq(("", ""), ("A", ""), ("A", "B")).forall { case (pre, post) =>
        (pre + c + post).toLowerCase(java.util.Locale.ROOT) ==
          pre.toLowerCase(java.util.Locale.ROOT) + l + post.toLowerCase(java.util.Locale.ROOT)
      }
    })
    assert(units.filter(caseCtx) ==
      Seq('\u0130', '\u03A3') ++ ('\uD800' to '\uDBFF'))
  }

  test("toLower equals Character.toLowerCase(char) at every unit") {
    assertAll("toLower")(c => CharClass.toLower(c) == Character.toLowerCase(c))
  }

  test("sym equals Perplexity.sym at every unit") {
    assertAll("sym")(c => CharClass.sym(c) == Perplexity.sym(c))
  }

  test("the tables cover the units whose case or class is unusual") {
    // dotted/dotless i, a titlecase digraph, sigma, sharp s, a fullwidth
    // digit, the surrogates of U+1D7CF, Hangul, U+00A0, U+3000 and U+000B
    assert(CharClass.toLower('İ') == 'i' && CharClass.toLower('ı') == 'ı')
    assert(CharClass.toLower('ǅ') == 'ǆ' && CharClass.isLetter('ǅ'))
    assert(CharClass.toLower('Σ') == 'σ' && CharClass.toLower('ß') == 'ß')
    assert(CharClass.isDigit('１') && CharClass.sym('１') == Perplexity.OtherSym)
    val bold1 = new String(Character.toChars(0x1D7CF))
    assert(bold1.forall(u => (CharClass.of(u) & ~CharClass.CaseCtx) == 0))
    assert((CharClass.of('한') & (CharClass.Letter | CharClass.Cjk)) ==
      (CharClass.Letter | CharClass.Cjk))
    assert(!CharClass.isWhitespace(' ') && CharClass.isWhitespace('　'))
    assert(CharClass.isWhitespace('\u000B') && CharClass.sym('\u000B') == Perplexity.SpaceSym)
  }
}
