package graft.core

/** The reference kernels for the [[CharClass]] differentials: the per-char
  * loops of langid, perplexity and the dedup fingerprint as they were
  * before the tables, calling `Character` for every char. langid looks its
  * grams up in a plain hash map and packs every key from scratch, so it
  * shares neither the row table nor the index with the engine. */
object LegacyKernels {

  def normalize(text: CharSequence): String = {
    val sb = new StringBuilder(" ")
    var i = 0
    var lastSpace = true
    val lim = math.min(text.length, 4096)
    while (i < lim) {
      val c = Character.toLowerCase(text.charAt(i))
      val ws = Character.isWhitespace(c)
      if (!ws) { sb.append(c); lastSpace = false }
      else if (!lastSpace) { sb.append(' '); lastSpace = true }
      i += 1
    }
    sb.append(' ').toString
  }

  private val rowsOf = new java.util.IdentityHashMap[LangIdModel, java.util.HashMap[Long, Int]]()

  // gram key → lowest row holding it (the first row the engine's probe finds)
  private def rows(m: LangIdModel): java.util.HashMap[Long, Int] = rowsOf.synchronized {
    rowsOf.computeIfAbsent(m, { _ =>
      val h = new java.util.HashMap[Long, Int]()
      m.gramKeys.indices.foreach(r => h.putIfAbsent(m.gramKeys(r), r))
      h
    })
  }

  /** The per-gram loop of `LangIdModel.classify`: position, then gram
    * length 1, 2, 3, each gram adding its row or the default row. */
  def classify(m: LangIdModel, text: CharSequence): (String, Double) = {
    val nl = m.langs.length
    val scores = new Array[Double](nl)
    val t = normalize(text)
    val idx = rows(m)
    var n = 0
    var pos = 0
    while (pos < t.length) {
      var len = 1
      while (len <= 3 && pos + len <= t.length) {
        var key = len.toLong << 48
        var j = 0
        while (j < len) { key |= t.charAt(pos + j).toLong << (j * 16); j += 1 }
        val r: Int = idx.getOrDefault(key, -1)
        var i = 0
        if (r >= 0) while (i < nl) { scores(i) += m.gramLogProbs(r * nl + i); i += 1 }
        else while (i < nl) { scores(i) += m.defaultLogProb(i); i += 1 }
        n += 1
        len += 1
      }
      pos += 1
    }
    if (n == 0) return ("und", 0.0)
    var best = 0
    var i = 1
    while (i < nl) { if (scores(i) > scores(best)) best = i; i += 1 }
    val mx = scores(best) / n
    var z = 0.0
    i = 0
    while (i < nl) { z += math.exp(scores(i) / n - mx); i += 1 }
    (m.langs(best), 1.0 / z)
  }

  def perplexity(m: PerplexityModel, text: CharSequence): Double = {
    import Perplexity._
    val lp = m.logProbArray
    val lim = math.min(text.length, 8192)
    if (lim == 0) return MaxPpl
    var c2 = SpaceSym
    var c1 = SpaceSym
    var sum = 0.0
    var i = 0
    while (i < lim) {
      val c0 = sym(text.charAt(i))
      sum += lp((c2 * A + c1) * A + c0)
      c2 = c1; c1 = c0
      i += 1
    }
    math.min(math.exp(-sum / lim), MaxPpl)
  }

  def fingerprint(text: String): Long = {
    var h = 1125899906842597L
    var lastSpace = true
    var i = 0
    while (i < text.length) {
      val c0 = Character.toLowerCase(text.charAt(i))
      val ws = Character.isWhitespace(c0)
      if (!ws) { h = h * 31 + c0; lastSpace = false }
      else if (!lastSpace) { h = h * 31 + ' '; lastSpace = true }
      i += 1
    }
    h
  }
}
