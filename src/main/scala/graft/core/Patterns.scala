package graft.core

/** The reference's nine PII detector patterns, as hand-written matchers.
  *
  * email/phone/amount/id: the canonical `RE_*` family
  * (reference: app/detectors.py:22-25 — used by both detection and the
  * single-pass replacer, app/main.py:107-119).
  * postal/address/name: the rule-based NER (app/security_manager.py:182-191).
  *
  * [[byName]] keeps each pattern's source string. No regex engine runs
  * them: each pattern is one `xxxAt(a, i, n)` function that returns the end
  * of the match starting at offset `i` of `a(0 until n)`, or -1, where that
  * match is the one `java.util.regex` finds with `UNICODE_CHARACTER_CLASS`
  * anchored at `i` with transparent bounds. The differential tests
  * (CorePropsSpec, ScrubSpec) pin every matcher against the compiled source
  * strings, and the CPython golden vectors (ref_vectors.json) pin those.
  *
  * The semantics the matchers implement:
  *
  *  1. postal's separator class `[ -‐−–—－]` parses as the RANGE U+0020–U+2010
  *     plus {U+2212, U+2013, U+2014, U+FF0D} — so `123X4567` IS a postal match.
  *     CPython and Java parse the literal identically.
  *
  *  2. address is built by f-string interpolation of `SEP = r'[-．.・ー—－]'`
  *     INCLUDING its brackets (app/security_manager.py:182-186), producing
  *     `[一-龠0-9[-．.・ー—－]\s]{0,40}`. CPython closes the char class at the
  *     first `]`, yielding: one char from (0-9 ∪ U+005B–U+FF0E), then one
  *     mandatory whitespace, then 0-40 literal `]`. (`一-龠` ⊂ U+005B–U+FF0E.)
  *     [[byName]] holds that parse; Java would read the raw f-string as a
  *     NESTED class. Consequence (verified against CPython):
  *     `東京都新宿区西新宿2-8-1` does NOT match; `東京都新宿区西 新宿` matches
  *     `東京都新宿区西 `.
  *
  *  3. `\d`, `\s` and `\b` are Unicode: `\d` is `Character.isDigit` of the
  *     code point, so a surrogate pair can be one digit (two units); `\s` is
  *     the White_Space property; `\b` sits between a word and a non-word
  *     code point, word being alphabetic, Mn/Me/Mc/Nd/Pc or a join control.
  *     `(?<!\d)` looks at the one unit before the offset (a lookbehind of
  *     length 1), and `(?![-\d])` at the code point after the match.
  *
  *  4. Bounded repetitions backtrack as the regex does: address's
  *     `{1,10}` and `{1,15}` kanji runs give back kanji until a
  *     `[都道府県]` / `[市区町村]` follows (both are kanji themselves), and
  *     name_kanji's `{2,4}\s*{1,3}` gives back one kanji when no kanji
  *     follows the spaces.
  *
  *  5. email, `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`, matches at
  *     an offset inside a local-part run exactly when it matches at the run's
  *     start, with the same end: `@` is not a local-part char, so every
  *     offset reaches the same `@` and domain. [[emailAfter]] therefore
  *     takes the run's END, and [[Scrub]]'s scan evaluates it once per run.
  *
  * [[starts]] is the dispatch table of the scan: bit i of entry u is set iff
  * pattern i of [[byName]] can start at UTF-16 unit u (its start class). A
  * class must be a SUPERSET of the units a match can begin with: a pattern
  * edit that admits a new first char must widen [[startClass]] too, or the
  * scrub silently misses matches (ScrubSpec's start-class soundness test
  * fails on such an edit).
  */
object Patterns {

  /** (name, hit kind, source) in the scan order [[Scrub.FullOrder]]: bit i of
    * a scan mask is pattern i. */
  val byName: Vector[(String, String, String)] = Vector(
    ("email", "email", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""),
    ("phone", "phone", """(?:0\d{1,4}-\d{1,4}-\d{3,4})|(?:\+81-\d{1,4}-\d{1,4}-\d{3,4})"""),
    ("amount", "amount", """(?:¥|JPY)?\s?\d{1,3}(?:,\d{3})+"""),
    ("id", "id", """\b(?:ACC|USR|ORD)-\d{4,6}\b"""),
    ("postal", "address", """(?:〒\s*)?(?<!\d)\d{3}[ -‐−–—－]?\d{4}(?![-\d])"""),
    // Python-actual parse of the interpolated class (see scaladoc item 2)
    ("address", "address", """[一-龠]{1,10}[都道府県][一-龠]{1,15}[市区町村][0-9\x{5b}-\x{ff0e}]\s\]{0,40}"""),
    ("name_kanji", "name", """[一-龠]{2,4}\s*[一-龠]{1,3}(?:さん|様|氏|先生|君|ちゃん)?"""),
    ("name_hiragana", "name", """[ぁ-ゔ]{3,8}(?:さん|様|氏|先生|君|ちゃん)?"""),
    ("name_katakana", "name", """[ァ-ヶ]{3,8}(?:さん|様|氏|先生|君|ちゃん)?"""))

  final val Email = 0
  final val Phone = 1
  final val Amount = 2
  final val Id = 3
  final val Postal = 4
  final val Address = 5
  final val NameKanji = 6
  final val NameHiragana = 7
  final val NameKatakana = 8

  /** Index of the named pattern in [[byName]]. */
  def indexOf(name: String): Int = {
    val i = byName.indexWhere(_._1 == name)
    require(i >= 0, s"unknown pattern: $name")
    i
  }

  /** Source string of the named pattern. */
  def regex(name: String): String = byName(indexOf(name))._3

  // ---- char classes ---------------------------------------------------------

  /** Chars of email's local-part class `[A-Za-z0-9._%+-]`. */
  def isEmailLocal(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '.' || c == '_' || c == '%' || c == '+' || c == '-'
  /** email's domain class `[A-Za-z0-9.-]`. */
  private def isDomain(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '.' || c == '-'
  private def isAsciiLetter(c: Char): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** `\s` under `UNICODE_CHARACTER_CLASS`: the White_Space property as
    * `java.util.regex` defines it. Every such code point is in the BMP. */
  private val spaceTable: Array[Boolean] = Array.tabulate(65536) { u =>
    (((1 << Character.SPACE_SEPARATOR) | (1 << Character.LINE_SEPARATOR) |
      (1 << Character.PARAGRAPH_SEPARATOR)) >> Character.getType(u) & 1) != 0 ||
      (u >= '\t' && u <= '\r') || u == 0x85
  }
  private def isSpace(c: Char): Boolean = spaceTable(c)

  private def isKanji(c: Char): Boolean = c >= '一' && c <= '龠'
  private def isHiragana(c: Char): Boolean = c >= 'ぁ' && c <= 'ゔ'
  private def isKatakana(c: Char): Boolean = c >= 'ァ' && c <= 'ヶ'

  /** The units of `\d` at `p < n`: 1 for a BMP digit, 2 for a surrogate
    * pair whose code point is a digit, else 0. */
  private def digitLen(a: Array[Char], p: Int, n: Int): Int = {
    val c = a(p)
    if (CharClass.isDigit(c)) 1
    else if (Character.isHighSurrogate(c) && p + 1 < n && Character.isLowSurrogate(a(p + 1)) &&
        Character.isDigit(Character.toCodePoint(c, a(p + 1)))) 2
    else 0
  }

  /** End of exactly `k` digits from `p`, or -1. */
  private def digitsExactly(a: Array[Char], p0: Int, n: Int, k: Int): Int = {
    var p = p0
    var j = 0
    while (j < k) {
      if (p >= n) return -1
      val d = digitLen(a, p, n)
      if (d == 0) return -1
      p += d
      j += 1
    }
    p
  }

  /** End of the greedy `\d{min,max}` from `p` that is NOT followed by a
    * further digit, or -1. Every use is followed by a non-digit test (`-`,
    * `,` or `\b` after a word char), so backtracking to fewer digits, which
    * leaves a digit next, can never succeed: the run must end inside the
    * window. */
  private def digitRun(a: Array[Char], p0: Int, n: Int, min: Int, max: Int): Int = {
    var p = p0
    var j = 0
    while (p < n && j <= max) {
      val d = digitLen(a, p, n)
      if (d == 0) return if (j >= min) p else -1
      p += d
      j += 1
    }
    if (j >= min && j <= max) p else -1
  }

  /** `\w` of `\b` under `UNICODE_CHARACTER_CLASS`, on a code point. */
  private def isWordCp(cp: Int): Boolean =
    Character.isAlphabetic(cp) ||
      ((((1 << Character.NON_SPACING_MARK) | (1 << Character.ENCLOSING_MARK) |
        (1 << Character.COMBINING_SPACING_MARK) | (1 << Character.DECIMAL_DIGIT_NUMBER) |
        (1 << Character.CONNECTOR_PUNCTUATION)) >> Character.getType(cp)) & 1) != 0 ||
      cp == 0x200C || cp == 0x200D

  /** Code point at `p < n`, read as `Character.codePointAt` does. */
  private def cpAt(a: Array[Char], p: Int, n: Int): Int = {
    val c = a(p)
    if (Character.isHighSurrogate(c) && p + 1 < n && Character.isLowSurrogate(a(p + 1)))
      Character.toCodePoint(c, a(p + 1))
    else c
  }

  /** Code point before `p > 0`, read as `Character.codePointBefore` does. */
  private def cpBefore(a: Array[Char], p: Int): Int = {
    val c = a(p - 1)
    if (Character.isLowSurrogate(c) && p > 1 && Character.isHighSurrogate(a(p - 2)))
      Character.toCodePoint(a(p - 2), c)
    else c
  }

  /** Length of the kanji run at `p`, counted up to `max`. */
  private def kanjiRun(a: Array[Char], p: Int, n: Int, max: Int): Int = {
    var j = 0
    while (j < max && p + j < n && isKanji(a(p + j))) j += 1
    j
  }

  /** Length of the optional name suffix `(?:さん|様|氏|先生|君|ちゃん)` at `p`
    * (the alternatives start with distinct chars, so at most one matches). */
  private def suffixLen(a: Array[Char], p: Int, n: Int): Int =
    if (p >= n) 0
    else a(p) match {
      case '様' | '氏' | '君' => 1
      case 'さ' => if (p + 1 < n && a(p + 1) == 'ん') 2 else 0
      case '先' => if (p + 1 < n && a(p + 1) == '生') 2 else 0
      case 'ち' => if (p + 2 < n && a(p + 1) == 'ゃ' && a(p + 2) == 'ん') 3 else 0
      case _ => 0
    }

  // ---- the matchers ---------------------------------------------------------

  /** End of the local-part run `[A-Za-z0-9._%+-]*` from `i`. */
  private[core] def localRunEnd(a: Array[Char], i: Int, n: Int): Int = {
    var j = i
    while (j < n && isEmailLocal(a(j))) j += 1
    j
  }

  /** End of the email whose local part is a run ending at `j`, or -1: an `@`
    * at `j`, then the domain run `[A-Za-z0-9.-]+` gives back chars until a
    * `.` followed by at least two letters remains (the letters end the
    * match). Reads the domain run once. */
  private[core] def emailAfter(a: Array[Char], j: Int, n: Int): Int = {
    if (j >= n || a(j) != '@') return -1
    var d = j + 1
    while (d < n && isDomain(a(d))) d += 1
    var x = d - 1
    while (x >= j + 2) {
      if (a(x) == '.' && x + 2 < n && isAsciiLetter(a(x + 1)) && isAsciiLetter(a(x + 2))) {
        var e = x + 3
        while (e < n && isAsciiLetter(a(e))) e += 1
        return e
      }
      x -= 1
    }
    -1
  }

  private def phoneAt(a: Array[Char], i: Int, n: Int): Int = {
    // 0\d{1,4}- | \+81- ; then \d{1,4}-\d{3,4}
    var p =
      if (a(i) == '0') {
        val e = digitRun(a, i + 1, n, 1, 4)
        if (e < 0 || e >= n || a(e) != '-') return -1
        e + 1
      } else if (a(i) == '+' && i + 3 < n && a(i + 1) == '8' && a(i + 2) == '1' &&
          a(i + 3) == '-') {
        val e = digitRun(a, i + 4, n, 1, 4)
        if (e < 0 || e >= n || a(e) != '-') return -1
        e + 1
      } else return -1
    p = {
      val e = digitRun(a, p, n, 1, 4)
      if (e < 0 || e >= n || a(e) != '-') return -1
      e + 1
    }
    // \d{3,4}: greedy, nothing follows
    val e3 = digitsExactly(a, p, n, 3)
    if (e3 < 0) -1
    else if (e3 < n) e3 + digitLen(a, e3, n)
    else e3
  }

  /** `\d{1,3}(?:,\d{3})+` from `p`: the digit test comes first. */
  private def amountDigits(a: Array[Char], p: Int, n: Int): Int = {
    if (p >= n || digitLen(a, p, n) == 0) return -1
    var e = digitRun(a, p, n, 1, 3)
    if (e < 0) return -1
    var groups = 0
    while (e < n && a(e) == ',') {
      val g = digitsExactly(a, e + 1, n, 3)
      if (g < 0) return if (groups > 0) e else -1
      e = g
      groups += 1
    }
    if (groups > 0) e else -1
  }

  private def amountAt(a: Array[Char], i: Int, n: Int): Int = {
    val c = a(i)
    // the (?:¥|JPY) prefix; without it the match cannot start at ¥ or J
    val p =
      if (c == '¥') i + 1
      else if (c == 'J') {
        if (i + 2 < n && a(i + 1) == 'P' && a(i + 2) == 'Y') i + 3 else return -1
      } else i
    // \s? greedy, then without it
    if (p < n && isSpace(a(p))) {
      val e = amountDigits(a, p + 1, n)
      if (e >= 0) return e
    }
    amountDigits(a, p, n)
  }

  private def idAt(a: Array[Char], i: Int, n: Int): Int = {
    // \b before a word char: the code point before is not a word char
    if (i + 4 >= n || (i > 0 && isWordCp(cpBefore(a, i)))) return -1
    val c0 = a(i); val c1 = a(i + 1); val c2 = a(i + 2)
    val lit = (c0 == 'A' && c1 == 'C' && c2 == 'C') || (c0 == 'U' && c1 == 'S' && c2 == 'R') ||
      (c0 == 'O' && c1 == 'R' && c2 == 'D')
    if (!lit || a(i + 3) != '-') return -1
    // \d{4,6}\b: the run must end inside the window, at a non-word char
    val e = digitRun(a, i + 4, n, 4, 6)
    if (e < 0 || (e < n && isWordCp(cpAt(a, e, n)))) -1 else e
  }

  /** postal's separator class `[ -‐−–—－]` (scaladoc item 1). */
  private def isPostalSep(c: Char): Boolean =
    (c >= ' ' && c <= '‐') || c == '−' || c == '–' || c == '—' || c == '－'

  /** `\d{4}(?![-\d])` from `p`. */
  private def postalTail(a: Array[Char], p: Int, n: Int): Int = {
    val e = digitsExactly(a, p, n, 4)
    if (e < 0 || (e < n && (a(e) == '-' || digitLen(a, e, n) > 0))) -1 else e
  }

  private def postalAt(a: Array[Char], i: Int, n: Int): Int = {
    // (?:〒\s*)? : with the prefix only the whole space run can be followed
    // by a digit; without it a match cannot start at 〒
    var p = i
    if (a(i) == '〒') {
      p += 1
      while (p < n && isSpace(a(p))) p += 1
    }
    // (?<!\d): a lookbehind of one unit
    if (p > 0 && CharClass.isDigit(a(p - 1))) return -1
    val q = digitsExactly(a, p, n, 3)
    if (q < 0) return -1
    // [sep]? greedy, then without it
    if (q < n && isPostalSep(a(q))) {
      val e = postalTail(a, q + 1, n)
      if (e >= 0) return e
    }
    postalTail(a, q, n)
  }

  /** `[0-9\x{5b}-\x{ff0e}]\s\]{0,40}` from `p`; the class reads a code point,
    * so a lone surrogate is in it and a pair is not. */
  private def addressTail(a: Array[Char], p: Int, n: Int): Int = {
    if (p + 1 >= n) return -1
    val c = a(p)
    if (!((c >= '0' && c <= '9') || (c >= '[' && c <= '．'))) return -1
    if (Character.isHighSurrogate(c) && Character.isLowSurrogate(a(p + 1))) return -1
    if (!isSpace(a(p + 1))) return -1
    var e = p + 2
    val lim = math.min(n, e + 40)
    while (e < lim && a(e) == ']') e += 1
    e
  }

  private def isPref(c: Char): Boolean = c == '都' || c == '道' || c == '府' || c == '県'
  private def isCity(c: Char): Boolean = c == '市' || c == '区' || c == '町' || c == '村'

  private def addressAt(a: Array[Char], i: Int, n: Int): Int = {
    // [一-龠]{1,10}[都道府県]: give back kanji until a prefecture char
    // follows (it is a kanji, so it sits inside the run)
    var k = kanjiRun(a, i, n, 10)
    while (k >= 1) {
      val p = i + k
      if (p < n && isPref(a(p))) {
        val s = p + 1
        // [一-龠]{1,15}[市区町村], the same way
        var m = kanjiRun(a, s, n, 15)
        while (m >= 1) {
          val q = s + m
          if (q < n && isCity(a(q))) {
            val e = addressTail(a, q + 1, n)
            if (e >= 0) return e
          }
          m -= 1
        }
      }
      k -= 1
    }
    -1
  }

  private def nameKanjiAt(a: Array[Char], i: Int, n: Int): Int = {
    val r = kanjiRun(a, i, n, 5)
    if (r < 2) return -1
    val e =
      if (r == 5) i + 4 + kanjiRun(a, i + 4, n, 3) // {2,4} = 4, no space, {1,3}
      else {
        // {2,4} takes the whole run; \s*, then a kanji must follow, else
        // {2,4} gives one back to {1,3}
        var q = i + r
        while (q < n && isSpace(a(q))) q += 1
        if (q < n && isKanji(a(q))) q + kanjiRun(a, q, n, 3)
        else if (r >= 3) i + r
        else return -1
      }
    e + suffixLen(a, e, n)
  }

  private def kanaNameAt(a: Array[Char], i: Int, n: Int, hiragana: Boolean): Int = {
    var j = 0
    while (j < 8 && i + j < n && (if (hiragana) isHiragana(a(i + j)) else isKatakana(a(i + j))))
      j += 1
    if (j < 3) -1 else i + j + suffixLen(a, i + j, n)
  }

  /** End of pattern `p`'s match at `i < n`, or -1; email is [[emailAfter]]
    * on the local-part run through `i`. */
  private[core] def matchAt(p: Int, a: Array[Char], i: Int, n: Int): Int = (p: @annotation.switch) match {
    case Email => if (isEmailLocal(a(i))) emailAfter(a, localRunEnd(a, i, n), n) else -1
    case Phone => phoneAt(a, i, n)
    case Amount => amountAt(a, i, n)
    case Id => idAt(a, i, n)
    case Postal => postalAt(a, i, n)
    case Address => addressAt(a, i, n)
    case NameKanji => nameKanjiAt(a, i, n)
    case NameHiragana => kanaNameAt(a, i, n, hiragana = true)
    case NameKatakana => kanaNameAt(a, i, n, hiragana = false)
  }

  // ---- the start table ------------------------------------------------------

  /** Start class of pattern `p`: the units a match can begin with. Each is
    * the regex class in the comment; a high surrogate can begin a
    * supplementary `\d`. */
  private def startClass(p: Int): Char => Boolean = (p: @annotation.switch) match {
    case Email => isEmailLocal // [A-Za-z0-9._%+-]
    case Phone => c => c == '0' || c == '+' // [0+]
    case Amount => c => c == '¥' || c == 'J' || isSpace(c) || CharClass.isDigit(c) ||
      Character.isHighSurrogate(c) // [¥J\s\d]
    case Id => c => c == 'A' || c == 'U' || c == 'O' // [AUO]; \b is zero-width
    case Postal => c => c == '〒' || CharClass.isDigit(c) ||
      Character.isHighSurrogate(c) // [〒\d]; (?<!\d) is zero-width
    case Address | NameKanji => isKanji // [一-龠]
    case NameHiragana => isHiragana // [ぁ-ゔ]
    case NameKatakana => isKatakana // [ァ-ヶ]
  }

  /** Bit i of `starts(u)` is set iff pattern i can start at unit u. */
  private[core] val starts: Array[Short] = {
    val classes = byName.indices.map(startClass).toArray
    Array.tabulate(65536) { u =>
      var m = 0
      var i = 0
      while (i < classes.length) { if (classes(i)(u.toChar)) m |= 1 << i; i += 1 }
      m.toShort
    }
  }
}
