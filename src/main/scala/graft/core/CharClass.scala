package graft.core

/** Per-UTF-16-unit lookup tables for the hot per-char tests of the
  * `page_stages` kernels (langid, perplexity, the quality scan, the trigger
  * prefilter) and the dedup fingerprint.
  *
  * Each table is built once, at class init, by calling the `Character`
  * (or [[Perplexity.sym]]) function it replaces on every one of the 65,536
  * units, so a lookup returns exactly what the call returns for that `char`.
  * A lookup is one array load, where `Character.isLetter` and friends walk
  * the JDK's property tables and `Character.UnicodeScript.of` binary-searches
  * the script ranges. The three tables take 256 KB and are shared by every
  * thread; they are immutable after init.
  *
  * Only `char` semantics are tabled: a surrogate unit classifies as the
  * unit, not as the code point of its pair, which is what the replaced
  * per-char calls did. CharClassSpec checks every entry against its call.
  */
object CharClass {

  /** `Character.isLetter(c)`. */
  final val Letter = 1
  /** `Character.isDigit(c)`. */
  final val Digit = 2
  /** `Character.isWhitespace(c)`. */
  final val Space = 4
  /** `Character.UnicodeScript.of(c)` is HAN, HIRAGANA, KATAKANA or HANGUL. */
  final val Cjk = 8
  /** U+0130, U+03A3 or a high surrogate: the only units at which Java's
    * String lowercase (locale ROOT) can differ from `toLowerCase(c)`. */
  final val CaseCtx = 16

  private def isCjkScript(c: Char): Boolean = {
    val s = Character.UnicodeScript.of(c.toInt)
    s == Character.UnicodeScript.HAN || s == Character.UnicodeScript.HIRAGANA ||
      s == Character.UnicodeScript.KATAKANA || s == Character.UnicodeScript.HANGUL
  }

  private val classes: Array[Byte] = Array.tabulate(65536) { u =>
    val c = u.toChar
    ((if (Character.isLetter(c)) Letter else 0) |
      (if (Character.isDigit(c)) Digit else 0) |
      (if (Character.isWhitespace(c)) Space else 0) |
      (if (isCjkScript(c)) Cjk else 0) |
      (if (c == '\u0130' || c == '\u03A3' || Character.isHighSurrogate(c)) CaseCtx else 0)).toByte
  }

  private val lower: Array[Char] = Array.tabulate(65536)(u => Character.toLowerCase(u.toChar))

  private val pplSym: Array[Byte] = Array.tabulate(65536)(u => Perplexity.sym(u.toChar).toByte)

  /** The class bits of `c` ([[Letter]] | [[Digit]] | [[Space]] | [[Cjk]] |
    * [[CaseCtx]]). */
  def of(c: Char): Int = classes(c)

  def isLetter(c: Char): Boolean = (classes(c) & Letter) != 0
  def isDigit(c: Char): Boolean = (classes(c) & Digit) != 0
  def isWhitespace(c: Char): Boolean = (classes(c) & Space) != 0

  /** `Character.toLowerCase(c)`. */
  def toLower(c: Char): Char = lower(c)

  /** [[Perplexity.sym]]`(c)`. */
  def sym(c: Char): Int = pplSym(c)
}
