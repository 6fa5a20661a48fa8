package graft.core

/** Gopher/C4-style heuristic quality rules (north-star quality stage).
  *
  * Pure text → metrics → keep/drop. The metric definitions are deliberately
  * expressible in ANSI SQL (whitespace tokenization, ratio = count/count) so
  * the DuckDB oracle can recompute them; the Spark layer calls this core
  * inside the fused `page_stages` expression, metrics and [[decide]] alike.
  */
object Quality {

  /** Tokenize on whitespace runs, dropping empties (matches SQL
    * `string_split_regex(text, '\s+')` + non-empty filter). */
  def tokens(text: String): Array[String] =
    // Locale.ROOT: SQL lower()/Python str.lower() twins are locale-free;
    // default-locale toLowerCase diverges on tr-TR hosts (dotless i)
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  /** Compact multilingual (en/es/de/fr) stopword set, shared verbatim with
    * the oracle SQL. CJK text is handled by rule gating instead (see
    * [[decide]]) — space-tokenized stopword matching is meaningless there. */
  val Stopwords: Set[String] = Set(
    // en
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "be", "this", "that", "from",
    // es
    "el", "la", "los", "las", "de", "que", "y", "en", "un", "una",
    "del", "se", "con", "por", "su", "para", "es", "al", "lo", "como",
    // de
    "der", "die", "das", "und", "ist", "von", "den", "im", "mit", "sich",
    "des", "auf", "ein", "eine", "um", "am", "dem", "zu", "nicht", "uber",
    // fr
    "le", "les", "et", "dans", "est", "pour", "qui", "sur", "pas",
    "plus", "par", "avec", "son", "une", "ses", "aux", "ce", "il", "du")

  final case class Metrics(
      nChars: Long,
      nWords: Long,
      meanWordLen: Double,
      stopwordRatio: Double,
      symbolRatio: Double,
      dupLineFrac: Double,
      dupWordFrac: Double,
      alphaWordRatio: Double,
      maxWordLen: Long,
      cjkRatio: Double)

  // rolling-hash fingerprints of the stopwords (same scheme the scan uses)
  private lazy val stopwordHashes: LongHashSet = {
    val s = new LongHashSet(Stopwords.size * 2)
    Stopwords.foreach { w =>
      var h = 0xcbf29ce484222325L
      w.foreach(c => h = (h ^ c) * 0x100000001b3L)
      s.add(h ^ (w.length.toLong << 56))
    }
    s
  }

  private def isAsciiSpace(c: Char): Boolean = // Java regex \s (no UNICODE flag)
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  // per-thread scratch tables (executor threads each score many rows; the
  // clear() costs a fill over the used capacity, far below two allocations)
  private val tokScratch = ThreadLocal.withInitial[LongHashSet](() => new LongHashSet(256))
  private val lineScratch = ThreadLocal.withInitial[LongHashSet](() => new LongHashSet(64))

  /** Single-scan metrics: no token/line Strings are materialized — tokens and
    * lines are identified by rolling 64-bit hashes (collision odds ~1e-13 per
    * document; only distinct-count stats depend on them). The per-char
    * tests (letter, CJK script, digit, whitespace, the token's lowercase and
    * its alpha test) are [[CharClass]] table loads, equal to the
    * `Character` calls [[metricsNaive]] makes. Words are those of the
    * String-lowercased text, as in [[tokens]]: where that differs from the
    * per-char lowercase (İ, Σ, supplementary capitals; [[CharClass.CaseCtx]]
    * marks the candidates), the word stats are taken from a second scan of
    * the lowercased String. Equivalent to the naive tokenize-then-count
    * implementation, pinned by QualityScanSpec. */
  def metrics(text: CharSequence): Metrics = scan(text, checkCase = true)

  // a unit at which Java's String lowercase (what `tokens` and the SQL and
  // CPython twins tokenize) can differ from the per-char lowercase of the
  // scan: İ becomes two units, Σ depends on its context (final sigma) and
  // a surrogate pair maps as one code point
  private def stringLowerDiffers(text: CharSequence, i: Int): Boolean = {
    val c = text.charAt(i)
    !Character.isHighSurrogate(c) || {
      val cp = Character.codePointAt(text, i)
      Character.toLowerCase(cp) != cp
    }
  }

  private def scan(text: CharSequence, checkCase: Boolean): Metrics = {
    val nC = text.length.toLong
    var symbols = 0L
    var letters = 0L
    var cjk = 0L
    // token state
    var nW = 0L
    var sumLen = 0L
    var maxLen = 0L
    var stop = 0L
    var alphaWords = 0L
    var tokLen = 0
    var tokHash = 0xcbf29ce484222325L
    var tokHasAlpha = false
    var caseCtx = false
    val tokSet = tokScratch.get(); tokSet.clear()
    // line state
    var nLines = 1L
    var lineHash = 0xcbf29ce484222325L
    val lineSet = lineScratch.get(); lineSet.clear()
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      // char-class stats: one table load (CharClass) answers letter, CJK
      // script, digit and whitespace
      val k = CharClass.of(c)
      if ((k & CharClass.Letter) != 0) {
        letters += 1
        if ((k & CharClass.Cjk) != 0) cjk += 1
      } else if ((k & (CharClass.Digit | CharClass.Space)) == 0) symbols += 1
      // lines: split on '\n' exactly, empties count (split("\n", -1) semantics)
      if (c == '\n') {
        lineSet.add(lineHash)
        lineHash = 0xcbf29ce484222325L
        nLines += 1
      } else lineHash = (lineHash ^ c) * 0x100000001b3L
      // tokens: runs of non-\s (ASCII) chars of lowercase text
      if (isAsciiSpace(c)) {
        if (tokLen > 0) {
          nW += 1; sumLen += tokLen
          if (tokLen > maxLen) maxLen = tokLen
          if (tokHasAlpha) alphaWords += 1
          val key = tokHash ^ (math.min(tokLen, 255).toLong << 56)
          tokSet.add(key)
          if (stopwordHashes.contains(key)) stop += 1
          tokLen = 0; tokHash = 0xcbf29ce484222325L; tokHasAlpha = false
        }
      } else {
        if ((k & CharClass.CaseCtx) != 0 && checkCase && !caseCtx)
          caseCtx = stringLowerDiffers(text, i)
        val lc = CharClass.toLower(c)
        tokHash = (tokHash ^ lc) * 0x100000001b3L
        tokLen += 1
        if (!tokHasAlpha && CharClass.isLetter(lc)) tokHasAlpha = true
      }
      i += 1
    }
    if (tokLen > 0) {
      nW += 1; sumLen += tokLen
      if (tokLen > maxLen) maxLen = tokLen
      if (tokHasAlpha) alphaWords += 1
      val key = tokHash ^ (math.min(tokLen, 255).toLong << 56)
      tokSet.add(key)
      if (stopwordHashes.contains(key)) stop += 1
    }
    lineSet.add(lineHash)
    val m = Metrics(
      nChars = nC,
      nWords = nW,
      meanWordLen = if (nW == 0) 0.0 else sumLen.toDouble / nW,
      stopwordRatio = if (nW == 0) 0.0 else stop.toDouble / nW,
      symbolRatio = if (nC == 0) 0.0 else symbols.toDouble / nC,
      dupLineFrac = 1.0 - lineSet.size.toDouble / nLines,
      dupWordFrac = if (nW == 0) 0.0 else 1.0 - tokSet.size.toDouble / nW,
      alphaWordRatio = if (nW == 0) 0.0 else alphaWords.toDouble / nW,
      maxWordLen = maxLen,
      cjkRatio = if (letters == 0) 0.0 else cjk.toDouble / letters)
    if (!caseCtx) m
    else {
      // word stats over the String-lowercased text; per-char lowercase is
      // idempotent, so the scan of that text lowercases nothing further
      val w = scan(text.toString.toLowerCase(java.util.Locale.ROOT), checkCase = false)
      m.copy(nWords = w.nWords, meanWordLen = w.meanWordLen,
        stopwordRatio = w.stopwordRatio, dupWordFrac = w.dupWordFrac,
        alphaWordRatio = w.alphaWordRatio, maxWordLen = w.maxWordLen)
    }
  }

  /** Naive reference implementation (tokenize-then-count) — kept as the test
    * oracle for the single-scan [[metrics]]. It calls `Character` per char
    * on purpose, so it stays independent of the [[CharClass]] tables. */
  def metricsNaive(text: String): Metrics = {
    val toks = tokens(text)
    val nW = toks.length.toLong
    val nC = text.length.toLong
    val stop = toks.count(Stopwords.contains)
    val alphaWords = toks.count(_.exists(Character.isLetter))
    val sumLen = toks.iterator.map(_.length.toLong).sum
    val maxLen = if (toks.isEmpty) 0L else toks.iterator.map(_.length).max.toLong
    var symbols = 0L
    var letters = 0L
    var cjk = 0L
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) {
        letters += 1
        val b = Character.UnicodeScript.of(c)
        if (b == Character.UnicodeScript.HAN || b == Character.UnicodeScript.HIRAGANA ||
          b == Character.UnicodeScript.KATAKANA || b == Character.UnicodeScript.HANGUL) cjk += 1
      } else if (!Character.isDigit(c) && !Character.isWhitespace(c)) symbols += 1
      i += 1
    }
    val lines = text.split("\n", -1)
    val dupLines =
      if (lines.length == 0) 0.0
      else 1.0 - lines.distinct.length.toDouble / lines.length
    val dupWords = if (nW == 0) 0.0 else 1.0 - toks.distinct.length.toDouble / nW
    Metrics(
      nChars = nC,
      nWords = nW,
      meanWordLen = if (nW == 0) 0.0 else sumLen.toDouble / nW,
      stopwordRatio = if (nW == 0) 0.0 else stop.toDouble / nW,
      symbolRatio = if (nC == 0) 0.0 else symbols.toDouble / nC,
      dupLineFrac = dupLines,
      dupWordFrac = dupWords,
      alphaWordRatio = if (nW == 0) 0.0 else alphaWords.toDouble / nW,
      maxWordLen = maxLen,
      cjkRatio = if (letters == 0) 0.0 else cjk.toDouble / letters)
  }

  /** Thresholds. Defaults tuned Gopher-ish but permissive; a real deployment
    * tunes per corpus. All comparisons are strict-fail so the SQL oracle can
    * mirror them with the same operators. */
  final case class Conf(
      minChars: Long = 40L,
      maxChars: Long = 1000000L,
      minWords: Long = 5L,
      maxWords: Long = 200000L,
      minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 14.0,
      maxSymbolRatio: Double = 0.10,
      minStopwordRatio: Double = 0.01,
      minAlphaWordRatio: Double = 0.5,
      maxDupLineFrac: Double = 0.30,
      maxDupWordFrac: Double = 0.95,
      maxWordLen: Long = 60L,
      maxPpl: Double = 80.0)

  /** keep + first-failing-rule drop reason ("" when kept). Rule order is part
    * of the contract (first failure wins).
    *
    * Word-shape rules (word counts/lengths, stopwords, alpha ratio) and the
    * char-LM perplexity are GATED OFF for CJK-dominant text (cjkRatio > 0.3):
    * Gopher/C4 heuristics are space-tokenization-specific and our embedded LM
    * is Latin-alphabet; applying them would drop all ja/zh prose. Length,
    * symbol-density and line-dedup rules remain in force. (Production path:
    * per-script tokenizers + per-language LMs, same rule frame.) */
  def decide(m: Metrics, ppl: Double, conf: Conf = Conf()): (Boolean, String) = {
    val cjk = m.cjkRatio > 0.3
    if (m.nChars < conf.minChars) (false, "too_short")
    else if (m.nChars > conf.maxChars) (false, "too_long")
    else if (!cjk && m.nWords < conf.minWords) (false, "too_few_words")
    else if (m.nWords > conf.maxWords) (false, "too_many_words")
    else if (!cjk && m.meanWordLen < conf.minMeanWordLen) (false, "mean_word_len_low")
    else if (!cjk && m.meanWordLen > conf.maxMeanWordLen) (false, "mean_word_len_high")
    else if (!cjk && m.maxWordLen > conf.maxWordLen) (false, "max_word_len")
    else if (m.symbolRatio > conf.maxSymbolRatio) (false, "symbol_ratio")
    else if (!cjk && m.stopwordRatio < conf.minStopwordRatio) (false, "stopword_ratio")
    else if (!cjk && m.alphaWordRatio < conf.minAlphaWordRatio) (false, "alpha_word_ratio")
    else if (m.dupLineFrac > conf.maxDupLineFrac) (false, "dup_lines")
    else if (m.dupWordFrac > conf.maxDupWordFrac) (false, "dup_words")
    else if (!cjk && ppl > conf.maxPpl) (false, "perplexity")
    else (true, "")
  }
}
