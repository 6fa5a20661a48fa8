package graft.core

/** Trained span tagger — the GENERALIZING companion of the gazetteer
  * automaton in [[graft.spark.NerSlot]] (reference op 13,
  * app/detectors.py:64-98: a HF token-classification model that detects
  * UNSEEN names; the gazetteer cannot). No neural runtime ships in this
  * image, so the model is a multinomial naive-Bayes classifier over
  * character-shape features of candidate spans, trained by distant
  * supervision from the gazetteer artifact (positives = dictionary
  * entries; negatives = corpus candidate spans containing no dictionary
  * entry) — the [[graft.spark.LangIdTrain]] recipe: the sufficient
  * statistic is an integer (label, feat, n) relation, so training
  * distributes as one hash-aggregation and the CPython twin reproduces it
  * bit-for-bit.
  *
  * Candidate spans (the shared train/inference segmentation; BMP-only
  * corpus invariant, FIXTURES.md):
  *  - maximal Han runs of 2..12 chars (Japanese names/orgs/locations in
  *    running text are bounded by kana/punctuation);
  *  - a Han run of ≤6 chars + single ASCII space + Han run of ≤6 chars
  *    (the gazetteer's spaced name variant);
  *  - sequences of 1..4 capitalized Latin words (single spaces), total
  *    length ≥ 2 (latin org names like "Example Corp").
  *
  * Features are span-INTERNAL only (char uni/bigrams, prefix/suffix char,
  * length bucket, space flag, script) — context features would separate
  * the context-free dictionary positives from corpus negatives by
  * construction instead of by shape. */
object NerTag {

  /** Same Han range the rule patterns use (core/Patterns.scala 一-龠). */
  def isHan(c: Char): Boolean = c >= '一' && c <= '龠'
  private def isUpper(c: Char): Boolean = c >= 'A' && c <= 'Z'
  private def isLatin(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  /** Candidate (start, end) spans of a text — deterministic scanner,
    * mirrored verbatim by the CPython twin. */
  def candidateSpans(t: CharSequence): Vector[(Int, Int)] = {
    val n = t.length
    val out = Vector.newBuilder[(Int, Int)]
    var i = 0
    while (i < n) {
      val c = t.charAt(i)
      if (isHan(c)) {
        var j = i
        while (j < n && isHan(t.charAt(j))) j += 1
        val runLen = j - i
        if (runLen >= 2 && runLen <= 12) out += ((i, j))
        // spaced pair (gazetteer's "family given" variant)
        if (runLen <= 6 && j < n && t.charAt(j) == ' ' && j + 1 < n &&
            isHan(t.charAt(j + 1))) {
          var m = j + 1
          while (m < n && isHan(t.charAt(m))) m += 1
          if (m - (j + 1) <= 6 && runLen + (m - (j + 1)) >= 2) out += ((i, m))
        }
        i = j
      } else if (isUpper(c)) {
        val start = i
        var j = i
        var words = 0
        var continue = true
        while (continue && words < 4 && j < n && isUpper(t.charAt(j))) {
          var w = j + 1
          while (w < n && isLatin(t.charAt(w))) w += 1
          words += 1
          j = w
          if (words < 4 && j < n && t.charAt(j) == ' ' && j + 1 < n &&
              isUpper(t.charAt(j + 1))) j += 1
          else continue = false
        }
        if (j - start >= 2) out += ((start, j))
        i = j
      } else i += 1
    }
    out.result()
  }

  /** Bag of span-internal features (multinomial counts — a repeated char
    * counts each occurrence). */
  def features(s: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    b += "BIAS"
    var i = 0
    while (i < s.length) { b += "c:" + s.charAt(i); i += 1 }
    i = 0
    while (i + 1 < s.length) { b += "b:" + s.substring(i, i + 2); i += 1 }
    b += "p:" + s.charAt(0)
    b += "s:" + s.charAt(s.length - 1)
    b += "l:" + math.min(s.length, 7)
    if (s.indexOf(' ') >= 0) b += "sp:1"
    b += (if (isHan(s.charAt(0))) "scr:han" else "scr:lat")
    b.result()
  }

  /** Does the span contain ANY dictionary entry as a substring? (Distant-
    * supervision noise filter: such corpus spans are ambiguous — partly a
    * known entity — and are excluded from the negative class.) Candidates
    * are ≤ 13 + 12 chars, so the substring enumeration is ≤ ~80 set
    * lookups — no automaton needed, and trivially twin-mirrorable. */
  def containsEntry(s: String, entries: java.util.HashSet[String]): Boolean = {
    var len = 2
    while (len <= s.length) {
      var i = 0
      while (i + len <= s.length) {
        if (entries.contains(s.substring(i, i + len))) return true
        i += 1
      }
      len += 1
    }
    false
  }

  final val NegLabel = "NEG"

  /** Label map ported verbatim from `_HF2PII` (app/detectors.py:77-82);
    * [[graft.spark.NerSlot.Hf2Pii]] aliases this. */
  val Hf2Pii: Map[String, String] =
    Map("PER" -> "name", "ORG" -> "org", "LOC" -> "address", "MISC" -> "misc")

  /** Multinomial NB with add-one smoothing over the union feature
    * vocabulary — [[LangId.fromCounts]]'s math on span
    * labels. `rows` is the (label, feat, n) sufficient statistic; the
    * BIAS feature's per-class count doubles as the class prior. */
  final class NerTagModel private[core] (
      val labels: Vector[String],
      feat: java.util.HashMap[String, Array[Double]],
      dflt: Array[Double]) extends Serializable {

    private val negIdx = labels.indexOf(NegLabel)

    /** argmax label of a span, or None when NEG wins. The class prior
      * enters through the BIAS feature's likelihood (every span emits one
      * BIAS event, so logP(BIAS|c) is monotone in the class's span count)
      * — a separate prior term would double-count class frequency and
      * systematically inflate NEG's margin over rare entity classes. */
    def predict(s: String): Option[String] = {
      val scores = new Array[Double](labels.length)
      features(s).foreach { f =>
        val row = feat.get(f)
        var i = 0
        if (row != null) while (i < scores.length) { scores(i) += row(i); i += 1 }
        else while (i < scores.length) { scores(i) += dflt(i); i += 1 }
      }
      var best = 0
      var i = 1
      while (i < scores.length) { if (scores(i) > scores(best)) best = i; i += 1 }
      if (best == negIdx) None else Some(labels(best))
    }

    /** Tag every candidate span of a text; emits the same Hit relation as
      * the gazetteer automaton so merge_with_ner is a plain concat. */
    def hitsOf(t: CharSequence): Vector[Hit] = {
      val s = t.toString
      candidateSpans(s).flatMap { case (a, b) =>
        predict(s.substring(a, b)).map { label =>
          Hit(Hf2Pii.getOrElse(label, "misc"),
            s.substring(a, b), a, b, 0.8, s"tagger:$label")
        }
      }
    }
  }

  /** Assemble the model from the bounded counts relation (driver-side). */
  def fromCounts(rows: Seq[(String, String, Long)]): NerTagModel = {
    require(rows.nonEmpty, "empty NER training relation")
    val labels = rows.map(_._1).distinct.sorted.toVector
    val li = labels.zipWithIndex.toMap
    val counts = new java.util.HashMap[String, Array[Long]]()
    val totals = new Array[Long](labels.length)
    rows.foreach { case (label, f, n) =>
      val i = li(label)
      var row = counts.get(f)
      if (row == null) { row = new Array[Long](labels.length); counts.put(f, row) }
      row(i) += n
      totals(i) += n
    }
    val v = counts.size + 1
    val feat = new java.util.HashMap[String, Array[Double]](counts.size * 2)
    counts.forEach { (f, row) =>
      val lp = new Array[Double](labels.length)
      var i = 0
      while (i < labels.length) {
        lp(i) = math.log((row(i) + 1.0) / (totals(i) + v)); i += 1
      }
      feat.put(f, lp)
    }
    val dflt = new Array[Double](labels.length)
    var i = 0
    while (i < labels.length) { dflt(i) = math.log(1.0 / (totals(i) + v)); i += 1 }
    new NerTagModel(labels, feat, dflt)
  }
}
