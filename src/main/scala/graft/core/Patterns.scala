package graft.core

import java.util.regex.Pattern

/** Exact ports of the reference's detector regexes.
  *
  * email/phone/amount/id: the canonical `RE_*` family
  * (reference: app/detectors.py:22-25 — used by both detection and the
  * single-pass replacer, app/main.py:107-119).
  * postal/address/name: the rule-based NER (app/security_manager.py:182-191).
  *
  * Semantics are pinned to what CPython `re` ACTUALLY does with those pattern
  * strings, which differs from the apparent intent in two places:
  *
  *  1. postal's separator class `[ -‐−–—－]` parses as the RANGE U+0020–U+2010
  *     plus {U+2212, U+2013, U+2014, U+FF0D} — so `123X4567` IS a postal match.
  *     Java parses the same literal identically, so it is kept verbatim.
  *
  *  2. address is built by f-string interpolation of `SEP = r'[-．.・ー—－]'`
  *     INCLUDING its brackets (app/security_manager.py:182-186), producing
  *     `[一-龠0-9[-．.・ー—－]\s]{0,40}`. CPython closes the char class at the
  *     first `]`, yielding: one char from (0-9 ∪ U+005B–U+FF0E), then one
  *     mandatory whitespace, then 0-40 literal `]`. (`一-龠` ⊂ U+005B–U+FF0E.)
  *     Java would instead treat `[...]` as a NESTED class (union), silently
  *     changing semantics — so the Python parse is hand-translated below.
  *     Consequence (verified against CPython): `東京都新宿区西新宿2-8-1` does
  *     NOT match; `東京都新宿区西 新宿` matches `東京都新宿区西 `.
  *
  * Email carries one addition the reference does not have: a run-start
  * guard `(?<![A-Za-z0-9._%+-])`. Unguarded, a scan tries the local part
  * `[A-Za-z0-9._%+-]+` at every offset of a local-part run and re-reads the
  * rest of the run each time, so a document with an `@` scans in time
  * quadratic in its longest run. Whether an email matches from an offset
  * inside a run does not depend on the offset: `@` is not a local-part
  * char, so every offset of a run reaches the same `@` and the same domain.
  * The guard therefore only drops offsets whose run start was already
  * tried — except where a scan RESUMES inside a run, right after a match
  * that ended there. That case is handled by the one scan loop in
  * [[Scrub]], which tries the unguarded [[EmailBody]] once per run; the two
  * together keep CPython's leftmost-first result exactly.
  *
  * Each pattern carries a START CLASS in [[byName]]: a predicate over one
  * UTF-16 unit that holds for every unit a match of the pattern can begin
  * with (the first char of a match, read under `UNICODE_CHARACTER_CLASS`).
  * [[Scrub]]'s scan tries a pattern only at offsets whose unit is in its
  * class, so a class must be a SUPERSET of the true first chars: a pattern
  * edit that admits a new first char must widen its class too, or the
  * scrub silently misses matches (ScrubSpec's start-class soundness test
  * fails on such an edit). A class need not be tight; a wider one only
  * costs regex attempts. Surrogate units need no class: the scan tries
  * every pattern there.
  *
  * `UNICODE_CHARACTER_CLASS` pins `\d`/`\s`/`\b` to Python 3 `re` semantics
  * (full-width digits, ideographic space, Unicode word boundaries).
  * Parity is enforced by golden vectors generated from CPython
  * (src/test/resources/golden/ref_vectors.json).
  */
object Patterns {
  private def p(re: String): Pattern =
    Pattern.compile(re, Pattern.UNICODE_CHARACTER_CLASS)

  /** The reference's email regex, unguarded: tried anchored where a scan
    * resumes inside a local-part run. */
  val EmailBody: Pattern = p("""[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""")
  /** [[EmailBody]] tried only at the start of a local-part run. */
  val Email: Pattern = p("""(?<![A-Za-z0-9._%+-])""" + EmailBody.pattern)

  /** Chars of email's local-part class `[A-Za-z0-9._%+-]`. */
  def isEmailLocal(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '.' || c == '_' || c == '%' || c == '+' || c == '-'

  /** `\d` under `UNICODE_CHARACTER_CLASS`: Unicode decimal digits (Nd). */
  private def isDigit(c: Char): Boolean = Character.isDigit(c)
  /** `\s` under `UNICODE_CHARACTER_CLASS`: the Unicode White_Space property,
    * as `java.util.regex` defines it. */
  private def isSpace(c: Char): Boolean =
    (((1 << Character.SPACE_SEPARATOR) | (1 << Character.LINE_SEPARATOR) |
      (1 << Character.PARAGRAPH_SEPARATOR)) >> Character.getType(c) & 1) != 0 ||
      (c >= '\t' && c <= '\r') || c == '\u0085'
  private def isKanji(c: Char): Boolean = c >= '一' && c <= '龠'

  val Phone: Pattern  = p("""(?:0\d{1,4}-\d{1,4}-\d{3,4})|(?:\+81-\d{1,4}-\d{1,4}-\d{3,4})""")
  val Amount: Pattern = p("""(?:¥|JPY)?\s?\d{1,3}(?:,\d{3})+""")
  val Id: Pattern     = p("""\b(?:ACC|USR|ORD)-\d{4,6}\b""")

  val Postal: Pattern = p("""(?:〒\s*)?(?<!\d)\d{3}[ -‐−–—－]?\d{4}(?![-\d])""")
  // Python-actual parse of the interpolated class (see scaladoc item 2):
  val Address: Pattern =
    p("""[一-龠]{1,10}[都道府県][一-龠]{1,15}[市区町村][0-9\x{5b}-\x{ff0e}]\s\]{0,40}""")
  val NameKanji: Pattern    = p("""[一-龠]{2,4}\s*[一-龠]{1,3}(?:さん|様|氏|先生|君|ちゃん)?""")
  val NameHiragana: Pattern = p("""[ぁ-ゔ]{3,8}(?:さん|様|氏|先生|君|ちゃん)?""")
  val NameKatakana: Pattern = p("""[ァ-ヶ]{3,8}(?:さん|様|氏|先生|君|ちゃん)?""")

  /** name → (pattern, hit kind, start class). Order is the reference's
    * evaluation order. Each start class is commented with the regex class
    * it implements (see the object scaladoc). */
  val byName: Vector[(String, Pattern, String, Char => Boolean)] = Vector(
    // [A-Za-z0-9._%+-]
    ("email", Email, "email", isEmailLocal),
    // [0+]
    ("phone", Phone, "phone", c => c == '0' || c == '+'),
    // [¥J\s\d]
    ("amount", Amount, "amount", c => c == '¥' || c == 'J' || isSpace(c) || isDigit(c)),
    // [AUO]; \b is zero-width
    ("id", Id, "id", c => c == 'A' || c == 'U' || c == 'O'),
    // [〒\d]; (?<!\d) is zero-width
    ("postal", Postal, "address", c => c == '〒' || isDigit(c)),
    // [一-龠]
    ("address", Address, "address", isKanji),
    // [一-龠]
    ("name_kanji", NameKanji, "name", isKanji),
    // [ぁ-ゔ]
    ("name_hiragana", NameHiragana, "name", c => c >= 'ぁ' && c <= 'ゔ'),
    // [ァ-ヶ]
    ("name_katakana", NameKatakana, "name", c => c >= 'ァ' && c <= 'ヶ')
  )

  def pattern(name: String): Pattern =
    byName.collectFirst { case (`name`, pat, _, _) => pat }.get

  /** Start class of the named pattern. */
  def startClass(name: String): Char => Boolean =
    byName.collectFirst { case (`name`, _, _, st) => st }.get
}
