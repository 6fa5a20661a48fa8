package graft.core

import java.util.regex.Pattern
import scala.collection.mutable

/** Single-pass union-regex replacement — the core scrub operator.
  *
  * Port of `_inline_replace_line` (reference: app/main.py:100-131): the
  * policy-enabled patterns are joined as `(p1)|(p2)|...` in a FIXED order and
  * applied in ONE left-to-right pass; the replacement kind is dispatched by
  * the first non-null capture group. Single-pass means replaced spans are
  * never re-scanned — essential because reference phone/id aliases are
  * themselves pattern-shaped (app/alias.py:14,16). At equal start offsets the
  * earlier-listed pattern wins; overlaps resolve leftmost-first. All inner
  * groups of the ported patterns are non-capturing, so group i ↔ pattern i.
  *
  * Every regex PII scan — this scrub, its span view [[unionHits]] and the
  * per-pattern scans of [[Detect]] — runs through one loop, [[forEachHit]],
  * which keeps each scan linear in the document length. Email is guarded to
  * run starts (see [[Patterns]]): the union tries it only where the previous
  * char is not a local-part char. An unguarded scan also tries email where
  * it RESUMES inside a local-part run, i.e. right after a match that ended
  * between two local-part chars; the loop makes up for exactly that case by
  * trying the unguarded [[Patterns.EmailBody]] anchored there. Email is the
  * first alternative, so a success is the match CPython returns at that
  * offset. A failure holds for the whole run (every offset of a run reaches
  * the same `@` and domain), so the loop records the run's end and later
  * resumes inside it skip the check. Elsewhere the guard only removes
  * email attempts the unguarded union already knew to fail, so the
  * leftmost-first result is unchanged. A guard-only alternative,
  * `(?:(?<![A-Za-z0-9._%+-])|\G)`, stays quadratic: `\G` re-reads the rest of
  * the run after every digit-pattern match inside it.
  *
  * The loop does not call `find()` on the whole union: Java's `find` has no
  * first-char filter for an alternation and would try every alternative at
  * every offset. Instead each [[Prepared]] scan holds a start table, one
  * bitmask per UTF-16 unit of the patterns whose start class
  * ([[Patterns.byName]]) contains that unit, and the loop runs a regex only
  * at offsets with a non-zero mask: the sub-union of just the masked
  * patterns, anchored there (`region` + `lookingAt`) with transparent
  * bounds, so lookbehinds and `\b` still see the text before the offset.
  * Surrogate units dispatch to every pattern (`\d`/`\s` match
  * supplementary code points). The result is the union's: a pattern
  * outside the mask cannot match at that offset, which holds only while
  * every start class is a superset of its pattern's first chars.
  *
  * Three alias modes:
  *  - [[Scrub.scrubTags]]   — fixed `<KIND>` tokens (oracle-friendly);
  *  - [[Scrub.scrubDict]]   — north-star `<PERSON_1>`-style numbered aliases
  *                            with a per-document alias dictionary;
  *  - [[Scrub.scrubRef]]    — reference HMAC-seeded aliases ([[RefAlias]]),
  *                            including the JPY reformat branch.
  */
object Scrub {

  /** The reference replacer's order (app/main.py:107-114). */
  val ReferenceOrder: Vector[String] = Vector("email", "phone", "amount", "id")

  /** Extended order for the full pipeline: reference regexes first, then the
    * rule-NER patterns in their evaluation order (our canonical extension for
    * the north-star entity classes: names, postal addresses, ...). */
  val FullOrder: Vector[String] =
    ReferenceOrder ++ Vector("postal", "address", "name_kanji", "name_hiragana", "name_katakana")

  /** Map pattern name → alias kind (postal hits alias as address; the three
    * name patterns alias as name — matching the NER hit types). */
  def kindOf(patternName: String): String =
    Patterns.byName.collectFirst { case (`patternName`, _, k, _) => k }.get

  /** Per-thread matcher reuse for [[Patterns.EmailBody]]: `Pattern.matcher`
    * allocates per call (matcher + group arrays), and `reset(text)` reuses the
    * internal arrays. Matchers are NOT thread-safe — hence per-thread. */
  private val emailBody =
    ThreadLocal.withInitial[java.util.regex.Matcher](() => Patterns.EmailBody.matcher(""))

  /** Trigger classes per pattern: a pattern cannot match unless the text
    * contains at least one of its trigger characters, so one cheap char scan
    * prunes the expensive union-regex pass (the standard prefilter trick;
    * semantics unchanged — pruned patterns could not have matched). Triggers:
    * email needs '@'; phone/amount/id/postal need a digit; address/name need
    * a CJK/kana codepoint. */
  private val needsAt = Set("email")
  private val needsDigit = Set("phone", "amount", "id", "postal")
  // name/address classes: kana from U+3040, CJK from U+4E00; U+3000-block
  // punctuation (〒 U+3012) also lives here — postal's 〒 prefix is optional
  // so postal stays digit-triggered
  private def isJpTrigger(c: Char): Boolean = c >= '　'

  /** Trigger bitmask of a text: bit0 '@', bit1 digit, bit2 CJK/kana.
    * `\d` also matches supplementary digits (e.g. U+1D7CF), so a high
    * surrogate sets the digit bit when its code point is a digit. */
  private[core] def triggerMask(text: CharSequence): Int = {
    var mask = 0
    var i = 0
    val n = text.length
    while (i < n && mask != 7) {
      val c = text.charAt(i)
      if (c == '@') mask |= 1
      else if (CharClass.isDigit(c)) mask |= 2
      else if (isJpTrigger(c)) {
        mask |= 4
        if (Character.isHighSurrogate(c) && Character.isDigit(Character.codePointAt(text, i)))
          mask |= 2
      }
      i += 1
    }
    mask
  }

  private def filterByMask(names: Seq[String], mask: Int): Seq[String] =
    names.filter { n =>
      if (needsAt(n)) (mask & 1) != 0
      else if (needsDigit(n)) (mask & 2) != 0
      else (mask & 4) != 0
    }

  /** The prepared scan of one pattern list: its hit kinds, its start table
    * and the compiled sub-unions [[forEachHit]] dispatches to. Built once
    * per distinct list and immutable after — the per-ROW work is one cache
    * lookup + array index, no collection allocation. */
  private[core] final class Prepared(val names: Seq[String]) {
    /** Hit kind of pattern i. */
    val kinds: Array[String] = names.map(kindOf).toArray
    /** Email is the first alternative: [[forEachHit]]'s resume rule applies. */
    val emailFirst: Boolean = names.headOption.contains("email")
    private val all = (1 << names.size) - 1

    /** Start table: bit i of `starts(c)` is set iff pattern i can start at
      * UTF-16 unit c (its start class, [[Patterns.byName]]). Surrogates get
      * every bit: `\d`/`\s` read the code point at a high surrogate, and the
      * union's `find()` tries low-surrogate offsets too. */
    private[core] val starts: Array[Short] = {
      val classes = names.map(Patterns.startClass).toArray
      Array.tabulate(65536) { u =>
        val c = u.toChar
        if (Character.isSurrogate(c)) all.toShort
        else {
          var m = 0
          var i = 0
          while (i < classes.length) { if (classes(i)(c)) m |= 1 << i; i += 1 }
          m.toShort
        }
      }
    }

    /** Sub-union per reachable mask — every value of [[starts]] and, with
      * email, its email-less variant: the masked patterns joined as
      * `(p1)|(p2)|...` in list order, so leftmost-first order is kept. */
    private val subs = new Array[Pattern](all + 1)
    /** Group g + 1 of `subs(mask)` ↔ pattern index `subIndex(mask)(g)`. */
    private val subIndex = new Array[Array[Int]](all + 1)
    locally {
      val masks = starts.iterator.map(_.toInt)
        .flatMap(m => if (emailFirst) Iterator(m, m & ~1) else Iterator(m)).toSet - 0
      masks.foreach { m =>
        val idx = names.indices.filter(i => (m & (1 << i)) != 0).toArray
        subIndex(m) = idx
        subs(m) = Pattern.compile(
          idx.map(i => "(" + Patterns.pattern(names(i)).pattern + ")").mkString("|"),
          Pattern.UNICODE_CHARACTER_CLASS)
      }
    }

    /** This thread's matchers of the sub-unions. */
    private val scans = ThreadLocal.withInitial[Scan](() => new Scan(subs))

    private[Scrub] def scan(text: CharSequence): Scan = scans.get().begin(text)
    private[Scrub] def patternIndex(mask: Int, group: Int): Int = subIndex(mask)(group - 1)
  }

  /** One thread's matchers of a [[Prepared]]'s sub-unions (`subs`, by
    * mask), reused across documents. `matcher(mask)` binds a matcher to the current text on its
    * first use in a scan; `release` unbinds them again, so a cached matcher
    * does not pin the last-scanned (possibly MB-sized) text. `begin`
    * releases too, so a scan cut short by an exception leaves no matcher
    * bound to a stale text. */
  private final class Scan(subs: Array[Pattern]) {
    private val ms = new Array[java.util.regex.Matcher](subs.length)
    private val bound = new Array[Boolean](subs.length)
    private val used = new Array[Int](subs.length)
    private var nUsed = 0
    private var text: CharSequence = ""

    def begin(t: CharSequence): Scan = { release(); text = t; this }

    /** The sub-union matcher for `mask`, on the text with transparent
      * bounds: lookbehinds and `\b` see the text before a region start. */
    def matcher(mask: Int): java.util.regex.Matcher = {
      var m = ms(mask)
      if (m == null) {
        m = subs(mask).matcher("")
        m.useTransparentBounds(true).useAnchoringBounds(false)
        ms(mask) = m
      }
      if (!bound(mask)) {
        m.reset(text)
        bound(mask) = true
        used(nUsed) = mask
        nUsed += 1
      }
      m
    }

    def release(): Unit = {
      while (nUsed > 0) {
        nUsed -= 1
        ms(used(nUsed)).reset("")
        bound(used(nUsed)) = false
      }
      text = ""
    }
  }

  private val preparedByNames =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], Prepared]()
  private val preparedCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], Array[Prepared]]()
  /** The prepared scan of `names0` minus the patterns `mask` (a
    * [[triggerMask]]) prunes; lists with equal filtered names share one. */
  private[core] def prepared(names0: Seq[String], mask: Int): Prepared =
    preparedCache.computeIfAbsent(names0, { ns =>
      // the resume rule emits email where the unguarded union would try it
      // FIRST; that holds only while email leads the order (it does in
      // ReferenceOrder, FullOrder and every policy filter of them)
      require(!ns.contains("email") || ns.head == "email",
        s"email must be the first pattern of a scan order: $ns")
      Array.tabulate(8)(m =>
        preparedByNames.computeIfAbsent(filterByMask(ns, m), f => new Prepared(f)))
    })(mask)

  /** Drop patterns whose trigger char never occurs. */
  def triggered(text: CharSequence, names: Seq[String]): Seq[String] =
    prepared(names, triggerMask(text)).names

  /** Receives the matches of [[forEachHit]] in text order; `i` indexes the
    * matching pattern in `prep.names` (and its hit kind in `prep.kinds`). */
  private[core] trait HitSink { def hit(i: Int, start: Int, end: Int): Unit }

  /** The union scan loop: `sink` gets every match of the unguarded union of
    * `prep.names`, as (pattern index, start, end), leftmost-first.
    *
    * First-char dispatch: from the scan position the loop walks the text
    * and looks each unit up in `prep.starts`; offsets whose mask is 0 are
    * skipped without running a regex. At a candidate offset it runs the
    * sub-union of only the masked patterns, anchored there (`region` +
    * `lookingAt`, transparent bounds). This is the union's own result:
    * leftmost-first returns the first alternative that matches at the
    * leftmost offset where any does, and a pattern outside the mask cannot
    * match at that offset. The email bit is dropped where the previous char
    * is a local-part char, where the run-start guard fails anyway, and at a
    * run start whose run is not followed by `@` ([[runEndsAtSign]]), where
    * the local part cannot end at an `@`.
    *
    * Linear in the text: [[runEndsAtSign]] reads each local-part run once,
    * the guarded email is tried at most once per run, and a resume inside a
    * run tries [[Patterns.EmailBody]] at most once per run (see the object
    * scaladoc). */
  private[core] def forEachHit(prep: Prepared, text: CharSequence, sink: HitSink): Unit = {
    if (prep.names.isEmpty) return
    val n = text.length
    val scan = prep.scan(text)
    val starts = prep.starts
    val emailBit = if (prep.emailFirst) 1 else 0
    var email: java.util.regex.Matcher = null
    var failedRunEnd = 0 // resumes before this offset sit in a run email fails
    var pos = 0
    while (pos < n) {
      val resumeMidRun = emailBit != 0 && pos > 0 && pos >= failedRunEnd &&
        Patterns.isEmailLocal(text.charAt(pos - 1)) && Patterns.isEmailLocal(text.charAt(pos))
      var emailEnd = -1
      if (resumeMidRun) {
        if (email == null) { email = emailBody.get(); email.reset(text) }
        email.region(pos, n)
        if (email.lookingAt()) emailEnd = email.end()
        else {
          var i = pos + 1
          while (i < n && Patterns.isEmailLocal(text.charAt(i))) i += 1
          failedRunEnd = i
        }
      }
      if (emailEnd >= 0) {
        sink.hit(0, pos, emailEnd)
        pos = emailEnd
      } else {
        var i = pos
        var prev = if (pos > 0) text.charAt(pos - 1) else ' '
        var found = false
        while (!found && i < n) {
          val c = text.charAt(i)
          var mask = starts(c).toInt
          if ((mask & emailBit) != 0 &&
              (Patterns.isEmailLocal(prev) || !runEndsAtSign(text, i, n))) mask &= ~1
          if (mask != 0) {
            val m = scan.matcher(mask)
            m.region(i, n)
            if (m.lookingAt()) {
              var g = 1
              while (m.start(g) < 0) g += 1
              sink.hit(prep.patternIndex(mask, g), i, m.end())
              pos = m.end()
              found = true
            }
          }
          prev = c
          i += 1
        }
        if (!found) pos = n
      }
    }
    scan.release()
    if (email != null) email.reset("")
  }

  /** Whether the local-part run starting at `i` is non-empty and followed
    * by an `@`: the guarded email can match at a run start only then, since
    * `@` is not a local-part char. */
  private def runEndsAtSign(text: CharSequence, i: Int, n: Int): Boolean = {
    var j = i
    while (j < n && Patterns.isEmailLocal(text.charAt(j))) j += 1
    j > i && j < n && text.charAt(j) == '@'
  }

  /** One left-to-right pass; `aliasFor(kind, matchedText)` supplies the
    * replacement. Returns the scrubbed text, or NULL when nothing matched —
    * the raw form lets the fused hot path skip re-encoding an unchanged
    * document (most web rows) instead of copying it through a String. */
  def scrubRaw(text: CharSequence, names0: Seq[String],
               aliasFor: (String, String) => String): String = {
    if (names0.isEmpty || text.length == 0) return null
    val prep = prepared(names0, triggerMask(text))
    if (prep.names.isEmpty) return null
    var sb: java.lang.StringBuilder = null
    var last = 0
    forEachHit(prep, text, { (i, start, end) =>
      if (sb == null) sb = new java.lang.StringBuilder(text.length + 16)
      sb.append(text, last, start)
      sb.append(aliasFor(prep.kinds(i), text.subSequence(start, end).toString))
      last = end
    })
    if (sb == null) null
    else { sb.append(text, last, text.length); sb.toString }
  }

  /** String-total [[scrubRaw]]: unchanged input returns the input itself. */
  def scrub(text: String, names0: Seq[String],
            aliasFor: (String, String) => String): String = {
    val r = scrubRaw(text, names0, aliasFor)
    if (r == null) text else r
  }

  /** Fixed-token mode: every match of kind k becomes `<K>`. */
  def scrubTags(text: String, names: Seq[String] = ReferenceOrder): String =
    scrub(text, names, (k, _) => "<" + k.toUpperCase + ">")

  private val dictTag = Map(
    "email" -> "EMAIL", "phone" -> "PHONE", "amount" -> "AMOUNT",
    "id" -> "ID", "address" -> "ADDRESS", "name" -> "PERSON",
    // model-NER-only kinds (Hf2Pii: ORG→org, MISC→misc)
    "org" -> "ORG", "misc" -> "MISC")

  /** Result of a dictionary scrub: the scrubbed text, the per-document alias
    * dictionary (original → alias, insertion-ordered by first occurrence) and
    * per-kind replacement counts. */
  final case class DictResult(
      scrubbed: String,
      aliases: Map[String, String],
      counts: Map[String, Long])

  /** North-star mode: deterministic per-document numbered aliases
    * (`<PERSON_1>`, `<EMAIL_2>`, ...). The same original string always maps to
    * the same alias within a document; numbering follows first occurrence in
    * the single scan, per tag. Deterministic given (text, names). */
  def scrubDict(text: String, names: Seq[String] = FullOrder): DictResult = {
    val aliases = new Aliases("dict", "", "")
    aliases.result(scrub(text, names, aliases))
  }

  /** One document's alias state for a scrub mode — the ONE place each
    * mode's alias rule lives:
    *  - `dict`: `<TAG_n>` numbered per tag by first occurrence, keyed
    *    `tag\0orig` in a `LinkedHashMap` (aliases in first-occurrence order);
    *  - `tags`: fixed `<KIND>` tokens, no aliases;
    *  - `ref`:  [[RefAlias]] aliases with the JPY rule, keyed `orig`.
    * `apply(kind, orig)` counts the hit and returns its replacement;
    * `result(scrubbed)` builds the [[DictResult]]. Maps are allocated on the
    * first hit — most web rows have none. An unknown mode fails at
    * construction, hit or no hit. */
  private final class Aliases(mode: String, keyB64: String, ns: String)
      extends ((String, String) => String) {
    private val rule = mode match {
      case "dict" => 0
      case "tags" => 1
      case "ref" => 2
      case other => sys.error(s"unknown scrub mode: $other")
    }
    /** The pattern order the mode scrubs (before the policy filter). */
    def order: Seq[String] = if (rule == 2) ReferenceOrder else FullOrder
    private var counts: mutable.Map[String, Long] = null
    private var dict: mutable.LinkedHashMap[String, String] = null
    private var perTagCounter: mutable.Map[String, Int] = null
    private var ref: mutable.Map[String, String] = null

    def apply(k: String, orig: String): String = {
      if (counts == null) counts = mutable.Map.empty
      counts.update(k, counts.getOrElse(k, 0L) + 1L)
      rule match {
        case 0 =>
          if (dict == null) { dict = mutable.LinkedHashMap.empty; perTagCounter = mutable.Map.empty }
          val tag = dictTag.getOrElse(k, "PII")
          dict.getOrElseUpdate(tag + "\u0000" + orig, {
            val n = perTagCounter.getOrElse(tag, 0) + 1
            perTagCounter.update(tag, n)
            s"<${tag}_$n>"
          })
        case 1 => "<" + k.toUpperCase + ">"
        case _ =>
          if (ref == null) ref = mutable.Map.empty
          ref.getOrElseUpdate(orig, RefAlias.aliasWithJpyRule(k, orig, keyB64, ns))
      }
    }

    def result(scrubbed: String): DictResult =
      if (counts == null) DictResult(scrubbed, Map.empty, Map.empty)
      else {
        val aliases =
          if (dict != null) dict.map { case (k, v) => k.substring(k.indexOf('\u0000') + 1) -> v }.toMap
          else if (ref != null) ref.toMap
          else Map.empty[String, String]
        DictResult(scrubbed, aliases, counts.toMap)
      }
  }

  /** Reference-alias mode over the reference's 4-pattern union, including the
    * JPY branch — byte-identical to the Python service for phone/amount/id. */
  def scrubRef(text: String, keyB64: String, ns: String,
               names: Seq[String] = ReferenceOrder): String =
    scrub(text, names, (k, orig) => RefAlias.aliasWithJpyRule(k, orig, keyB64, ns))

  /** Policy-filtered pattern order, CACHED per (order, csv) — the filter
    * must not run per row in the fused hot path. `policiesCsv` = the
    * reference's per-request `policies` (comma-separated hit kinds,
    * app/main.py:379); empty = all patterns. */
  private val policyCache =
    new java.util.concurrent.ConcurrentHashMap[(Seq[String], String), Seq[String]]()
  def filteredOrder(order: Seq[String], policiesCsv: String): Seq[String] =
    if (policiesCsv.isEmpty) order
    else policyCache.computeIfAbsent((order, policiesCsv), { case (o, csv) =>
      val set = csv.split(',').map(_.trim).filter(_.nonEmpty).toSet
      o.filter(n => set.contains(kindOf(n)))
    })

  /** The union pass of [[scrub]] as a SPAN view: same matcher, same order
    * resolution, but hits are collected instead of replaced — the input to
    * the ENHANCED merge path. conf/reason carry the rule-detector values
    * only where the merge needs them (kind + offsets + text decide). */
  def unionHits(text: CharSequence, names0: Seq[String]): Vector[Hit] = {
    if (names0.isEmpty || text.length == 0) return Vector.empty
    val prep = prepared(names0, triggerMask(text))
    if (prep.names.isEmpty) return Vector.empty
    val out = Vector.newBuilder[Hit]
    forEachHit(prep, text, { (i, start, end) =>
      out += Hit(prep.kinds(i), text.subSequence(start, end).toString, start, end, 1.0, "regex")
    })
    out.result()
  }

  /** ENHANCED-mode scrub core — the reference's `regex_hits.extend(ai_ner)`
    * before redaction (app/main.py:241-245) applied to text: regex-union
    * spans and model-NER spans are merged with [[dedupSpans]] (regex hits
    * listed FIRST: both sorts are stable, so at an identical (start, length)
    * the rule hit wins) and replaced in one splice. `modelHits` must carry
    * exact offsets into `text`. */
  def scrubMerged(text: CharSequence, names: Seq[String], modelHits: Seq[Hit],
                  aliasFor: (String, String) => String): String = {
    val merged = dedupSpans(unionHits(text, names) ++ modelHits)
    if (merged.isEmpty) return null // RAW contract: null ⇔ unchanged
    val sb = new java.lang.StringBuilder(text.length + 16)
    var last = 0
    merged.foreach { h =>
      sb.append(text, last, h.start)
      sb.append(aliasFor(h.kind, h.text))
      last = h.end
    }
    sb.append(text, last, text.length)
    sb.toString
  }

  /** Hit KINDS enabled by a policies csv, cached like [[filteredOrder]]. */
  private val policyKindsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
  def policyKinds(policiesCsv: String): Set[String] =
    policyKindsCache.computeIfAbsent(policiesCsv,
      csv => csv.split(',').map(_.trim).filter(_.nonEmpty).toSet)

  /** The per-page moded scrub, RAW form — the scrub of the native
    * `page_stages` expression ([[scrubWithMode]] is its String-total form,
    * the reference the expression is pinned against row for row).
    * `scrubbed == null` means UNCHANGED: the fused hot path then forwards
    * the input UTF8String instead of re-encoding a copy.
    *
    * `modelHits` are the model-NER spans of the ENHANCED security level
    * (merge_with_ner, app/detectors.py:100-117), with exact offsets into
    * `t`. They pass the same per-request policy filter as the rule
    * patterns (`hit.get("type") in policies`, app/main.py:250). With none
    * left the scrub is the plain union splice ([[scrubRaw]]: `find()` spans
    * are already non-overlapping); otherwise rule and model spans are
    * merged and spliced by [[scrubMerged]]. Kinds the reference aliases via
    * Faker (name/address) use [[RefAlias]]'s branches; org/misc take its
    * fallback draw — total for every model kind. */
  def scrubWithModeRaw(mode: String, t: CharSequence, keyB64: String, ns: String,
                       policiesCsv: String, modelHits: Seq[Hit] = Nil): DictResult = {
    val aliases = new Aliases(mode, keyB64, ns)
    val names = filteredOrder(aliases.order, policiesCsv)
    val hits =
      if (policiesCsv.isEmpty || modelHits.isEmpty) modelHits
      else { val ks = policyKinds(policiesCsv); modelHits.filter(h => ks(h.kind)) }
    aliases.result(
      if (hits.isEmpty) scrubRaw(t, names, aliases) else scrubMerged(t, names, hits, aliases))
  }

  /** String-total [[scrubWithModeRaw]]: unchanged ⇒ scrubbed = the input. */
  def scrubWithMode(mode: String, t: String, keyB64: String, ns: String,
                    policiesCsv: String, modelHits: Seq[Hit] = Nil): DictResult = {
    val d = scrubWithModeRaw(mode, t, keyB64, ns, policiesCsv, modelHits)
    if (d.scrubbed == null) d.copy(scrubbed = t) else d
  }

  /** Line-scope tag scrub: the reference applies `_inline_replace_line` per
    * OCR line (app/main.py:404-414); the text analog splits on '\n', scrubs
    * each line independently, and rejoins. Differs from whole-text scrub
    * only where a match would span a newline (amount's `\s?` can swallow
    * one) — line scope is the reference-faithful mode. */
  def scrubTagsLines(text: String, names: Seq[String] = ReferenceOrder): String =
    text.split("\n", -1).map(l => scrubTags(l, names)).mkString("\n")

  /** Greedy non-overlapping span dedup — the text analog of the reference's
    * IoU line dedup (app/main.py:143-154, threshold logic collapsed to exact
    * span overlap since offsets are exact here). Sort by (start, -length),
    * keep a hit iff it starts at/after the last kept end. */
  def dedupSpans(hits: Seq[Hit]): Vector[Hit] = {
    val sorted = hits.sortBy(h => (h.start, -(h.end - h.start)))
    val out = Vector.newBuilder[Hit]
    var lastEnd = -1
    sorted.foreach { h =>
      if (h.start >= lastEnd) { out += h; lastEnd = h.end }
    }
    out.result()
  }
}
