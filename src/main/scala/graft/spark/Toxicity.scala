package graft.spark

import graft.core.AhoCorasick
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions._

/** Toxicity filtering + scrubbing — the second scrub family the
  * north-rule names next to PII ("PII/toxicity-scrub"). The reference
  * service is PII-only; the semantics here are the public C4/Dolma
  * recipe: a word blocklist applied at word boundaries, with (a) per-doc
  * hit counts feeding a keep/drop rule (C4 drops on ANY hit; milder
  * pipelines threshold on the hit ratio) and (b) a scrub mode masking
  * the terms in place (the toxicity twin of the PII alias scrub).
  *
  * One implementation on the Spark side, one reference pattern:
  *  - the AUTOMATON compiles the list into an Aho-Corasick matcher with
  *    explicit word-boundary + lowercase checks — O(|text|) per doc
  *    regardless of list size, the shape that survives UT1/LDNOOBW-scale
  *    lists (hundreds of thousands of terms, where a regex union dies).
  *    One [[LangBank]] holds it whatever the list size (a single list is
  *    the "*" entry). [[Pipeline.run]] counts and masks inside the fused
  *    `page_stages` expression, on the decoded row; the q_toxicity
  *    queries use the bank's column UDFs.
  *  - the REGEX form of the same semantics, one case-insensitive
  *    word-boundary union ([[pattern]] for `java.util.regex`,
  *    [[oraclePattern]] for RE2), is the reference: the DuckDB oracle
  *    reproduces counts and scrubbed text with it, and the tests compare
  *    the automaton with it (equivalence is test-pinned).
  *
  * The DEFAULT list is a deliberately small English placeholder — a
  * production run swaps in per-language curated lists (broadcast, like
  * every other model artifact here); the learned upgrade path is the
  * [[QualityTrain]]/[[NerTagTrain]] recipe with list-labeled distant
  * supervision. */
object Toxicity {

  /** Small English placeholder blocklist (C4-style). Production lists are
    * per-language and pluggable; nothing below is load-bearing. */
  val DefaultList: Seq[String] = Seq(
    "damn", "hell", "crap", "shit", "fuck", "bastard", "bitch",
    "asshole", "piss", "slut", "whore", "dick")

  /** The ONE semantic every form implements: ASCII word boundaries
    * ([A-Za-z0-9_] delimits) and ASCII-only case folding. Neither engine
    * default gives this portably — Java's `\b` is Unicode-aware (no match
    * in "damn山") while RE2's is ASCII (match), and `(?i)` folds ASCII-
    * only in Java but Unicode-simple in RE2 (U+212A KELVIN ≡ k) — so the
    * pattern builders avoid BOTH constructs: case classes `[Dd][Aa]...`
    * instead of `(?i)`, and per-engine boundary syntax with identical
    * meaning (Java lookarounds; RE2's already-ASCII `\b`). */
  private def union(words: Seq[String]): String = {
    require(words.nonEmpty && words.forall(_.matches("[A-Za-z]+")),
      "blocklist terms must be plain ASCII words (the shared boundary " +
        "semantics); use the automaton for anything else")
    // Dedupe AFTER case folding: a list containing both "Damn" and "damn"
    // must not break the regex/automaton equivalence (the regex union matches once
    // per position regardless, but an un-deduped automaton would emit one
    // hit per duplicate pattern and double-count).
    words.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
      .map(_.map(c => s"[${c.toUpper}${c.toLower}]").mkString)
      .mkString("(?:", "|", ")")
  }

  /** Java-regex form (the test reference): ASCII lookaround boundaries. */
  def pattern(words: Seq[String] = DefaultList): String =
    "(?<![A-Za-z0-9_])" + union(words) + "(?![A-Za-z0-9_])"

  /** RE2 form (the DuckDB oracle): RE2 has no lookarounds, but its `\b`
    * IS the ASCII boundary the Java form spells out. */
  def oraclePattern(words: Seq[String] = DefaultList): String =
    "\\b" + union(words) + "\\b"

  // ---- the automaton (list-size-independent scan) ---------------------------

  /** ASCII-only case fold for building and loading lists: the same fold
    * the [[Matcher]] scan applies as it reads each char (a full-Unicode
    * toLowerCase would both fold characters the scan does not and change
    * string LENGTH for e.g. U+0130, producing terms that can never match). */
  private[spark] def asciiLower(s: String): String = {
    val b = new Array[Char](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      b(i) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      i += 1
    }
    new String(b)
  }

  /** Compiled blocklist: an Aho-Corasick automaton over the ASCII-lowered
    * terms that folds A-Z as it scans, plus an ASCII boundary check — the
    * same folding the regex form's case classes express. ASCII-only
    * folding is deliberate: full-Unicode toLowerCase would both fold
    * characters the regex form does not (U+212A KELVIN → k) and change
    * string LENGTH (U+0130 → two chars), shifting every offset. Count and
    * mask take any CharSequence, so the fused stage scans its decode
    * buffer without a String copy. */
  final case class Matcher(words: Seq[String]) extends Serializable {
    // dedupe after folding — mirrors union(); see the comment there
    @transient private lazy val lowered =
      words.map(Toxicity.asciiLower).distinct.toArray
    @transient private lazy val ac = new AhoCorasick(lowered, foldAscii = true)
    private def isWord(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_'

    /** The ONE span set count and scrub both consume, so they cannot
      * diverge: the boundary-valid hits by (start, end), each accepted
      * unless it overlaps one accepted before it (plain ASCII word terms
      * cannot overlap, but automaton-only term shapes — CJK, multi-word
      * phrases — can). */
    private def accepted(t: CharSequence): List[(Int, Int)] = {
      var spans = List.empty[(Int, Int)]
      ac.scan(t) { (pi, end) =>
        val start = end - lowered(pi).length
        if ((start == 0 || !isWord(t.charAt(start - 1))) &&
            (end == t.length || !isWord(t.charAt(end))))
          spans ::= ((start, end))
      }
      spans.sorted.foldLeft(List.empty[(Int, Int)]) { (kept, s) =>
        if (kept.nonEmpty && s._1 < kept.head._2) kept else s :: kept
      }.reverse
    }

    /** Count of the accepted spans — the exact set [[scrubIn]] masks, so
      * count and scrub agree by construction for every term shape. For
      * plain-word lists this equals the all-occurrences count (valid hits
      * cannot overlap). */
    def countIn(t: CharSequence): Long =
      if (t == null) 0L else accepted(t).size.toLong

    /** Mask every accepted span in place (the regex form: a replace of
      * [[Toxicity.pattern]]). Folding preserves length, so span offsets
      * index the text directly. */
    def scrubIn(t: CharSequence, mask: String = "<TOXIC>"): String = {
      if (t == null) return null
      val spans = accepted(t)
      if (spans.isEmpty) return t.toString
      val sb = new java.lang.StringBuilder(t.length)
      var pos = 0
      spans.foreach { case (s0, e0) =>
        sb.append(t, pos, s0).append(mask)
        pos = e0
      }
      sb.append(t, pos, t.length)
      sb.toString
    }
  }

  /** Per-language matcher bank: the C4/UT1 production shape — curated
    * blocklists are PER LANGUAGE, and a doc is screened against the list
    * of the language it was identified as (screening every doc against
    * every language's list both over-fires on cross-language homographs
    * and costs |languages|× the scan). One compiled automaton per
    * language rides a single broadcast; dispatch key is the pipeline's
    * own `lang_id`. `default` (key "*") screens docs whose language has
    * no list — pass an empty list to skip them instead. */
  final case class LangBank(lists: Map[String, Seq[String]]) extends Serializable {
    @transient private lazy val matchers: Map[String, Matcher] =
      lists.collect { case (l, ws) if ws.nonEmpty => l -> Matcher(ws) }
    private[spark] def matcherFor(lang: String): Option[Matcher] = {
      val m = matchers.get(if (lang == null) "*" else lang)
      if (m.isDefined) m else matchers.get("*")
    }
    def countIn(lang: String, t: String): Long =
      matcherFor(lang).map(_.countIn(t)).getOrElse(0L)
    def scrubIn(lang: String, t: String, mask: String = "<TOXIC>"): String =
      matcherFor(lang).map(_.scrubIn(t, mask)).getOrElse(t)
  }

  /** Per-language count/scrub UDFs over a broadcast bank: the column-level
    * surface of the q_toxicity queries. `Pipeline.run` does not use them;
    * it counts and masks inside the fused stage (`PageStagesExpr`'s
    * `toxicity` field) over the same bank. Nondeterministic = duplication
    * guard, not semantics (see PageStagesExpr.deterministic): keep/drop
    * predicates derived from the count must not clone the scan into
    * FilterExec. */
  def countByLangUdf(b: Broadcast[LangBank]) =
    udf { (lang: String, t: String) => b.value.countIn(lang, t) }
      .asNondeterministic()
  def scrubByLangUdf(b: Broadcast[LangBank], mask: String = "<TOXIC>") =
    udf { (lang: String, t: String) => b.value.scrubIn(lang, t, mask) }
      .asNondeterministic()

  /** Load a blocklist from a one-term-per-line file (the UT1/LDNOOBW
    * distribution format) via the Hadoop FileSystem API, so production
    * lists load from hdfs:///s3a:// exactly like every other model
    * artifact. Blank lines and `#` comments are skipped; terms are
    * ASCII-folded and deduped on load (list files routinely carry case
    * duplicates). The list rides a broadcast from the caller — it is
    * driver-side data, never a join side. */
  def loadList(spark: org.apache.spark.sql.SparkSession,
               path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try {
      // asciiLower, NOT Locale.ROOT toLowerCase: load-time normalization
      // must be the same fold the Matcher applies at match time — a full-
      // Unicode lowercase mangles terms the scan will never fold the same
      // way (and can change term length, e.g. U+0130), silently weakening
      // per-language screening
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(w => w.nonEmpty && !w.startsWith("#"))
        .map(asciiLower).distinct.toVector
    } finally in.close()
  }

  /** The blocklist a `SPARK_GRAFT_TOXICITY` value names: "default" = the
    * placeholder [[DefaultList]], "file:<path>" = a one-term-per-line
    * list read with [[loadList]], anything else = an inline comma-separated
    * list. An empty list fails naming the variable: [[LangBank]] would
    * otherwise skip it silently and screen nothing. */
  def listFromSpec(spark: org.apache.spark.sql.SparkSession, spec: String): Seq[String] = {
    val ws = spec match {
      case "default" => DefaultList
      case f if f.startsWith("file:") => loadList(spark, f.stripPrefix("file:"))
      case csv => csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    require(ws.nonEmpty, s"SPARK_GRAFT_TOXICITY names an empty blocklist: '$spec'")
    ws
  }

  /** Deterministic UT1/LDNOOBW-scale placeholder list: `n` distinct
    * pseudo-words (3-5 syllables, pure [a-z]) from a fixed-seed splitmix64
    * stream. Stands in for a real curated blocklist — same size, same
    * shape, shippable in an offline sandbox — so the at-scale automaton
    * path can be gate-verified and benchmarked for list-size independence. */
  def syntheticList(n: Int, seed: Long = 0x70C1C17E5EEDL): Seq[String] = {
    val syll = Array(
      "ba", "be", "bi", "bo", "bu", "da", "de", "di", "do", "du",
      "ka", "ke", "ki", "ko", "ku", "ma", "me", "mi", "mo", "mu",
      "na", "ne", "ni", "no", "nu", "ra", "re", "ri", "ro", "ru",
      "sa", "se", "si", "so", "su", "ta", "te", "ti", "to", "tu",
      "za", "ze", "zi", "zo", "zu", "gro", "plo", "tri", "sku", "vex")
    var s = seed
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val k = 3 + java.lang.Math.floorMod(next(), 3L).toInt
      out += (0 until k)
        .map(_ => syll(java.lang.Math.floorMod(next(), syll.length.toLong).toInt))
        .mkString
    }
    out.toVector
  }
}
