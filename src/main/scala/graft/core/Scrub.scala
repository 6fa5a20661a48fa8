package graft.core

import scala.collection.mutable

/** Single-pass union replacement — the core scrub operator.
  *
  * Port of `_inline_replace_line` (reference: app/main.py:100-131): the
  * policy-enabled patterns are joined as `(p1)|(p2)|...` in a FIXED order and
  * applied in ONE left-to-right pass; the replacement kind is the kind of the
  * alternative that matched. Single-pass means replaced spans are never
  * re-scanned — essential because reference phone/id aliases are themselves
  * pattern-shaped (app/alias.py:14,16). At equal start offsets the
  * earlier-listed pattern wins; overlaps resolve leftmost-first.
  *
  * No regex engine runs the union. Every PII scan — this scrub, its span view
  * [[unionHits]] and the per-pattern scans of [[Detect]] — goes through one
  * loop, [[scan]], over the text's chars:
  *  - Pattern i of [[Patterns.byName]] is bit i of a scan mask. Every scan
  *    order ([[FullOrder]], [[ReferenceOrder]], their policy filters and
  *    Detect's single patterns) keeps [[FullOrder]]'s relative order, so an
  *    order is just the set of its bits, and the lowest set bit is the
  *    alternative the union tries first.
  *  - The enabled mask is the order's bits AND the patterns whose trigger
  *    units all occur in the text ([[triggeredBits]], one table load per
  *    unit): a pattern without them cannot match, so this only prunes work.
  *  - At each offset the loop ANDs the enabled mask with the start table
  *    [[Patterns.starts]] of the unit there and tries the set bits, lowest
  *    first, with the hand-written matcher of each ([[Patterns.matchAt]]).
  *    The first that returns an end is the union's match at that offset;
  *    the scan resumes at its end, or at the next unit if none matched.
  *  - Email depends only on where the local-part run through the offset
  *    ends (see [[Patterns]]), so the loop evaluates it once per run and
  *    reuses the result at every later offset of the run, including where a
  *    scan resumes inside the run after another pattern's match.
  *  - Inside a local-part run whose email failed, the loop skips to the
  *    next unit where another pattern can start.
  * Each offset costs a table load and, where a bit is set, matchers whose
  * work is bounded by the repetition windows of their pattern, and each
  * local-part and email-domain run is read once; so a scan is linear in the
  * text.
  *
  * Every scrub (the moded [[scrubWithModeRaw]], [[scrubTags]],
  * [[scrubDict]], [[scrubRef]]) splices the aliases of one [[Aliases]]
  * state into a char array copied in bulk from the input's chars (the
  * backing array of a [[CharsView]]), and looks up a repeated
  * original by hashing its chars in place, so a hit allocates only what the
  * output keeps: a new original's String, its kind's count and the result
  * maps.
  *
  * Three alias modes:
  *  - `tags` — fixed `<KIND>` tokens (oracle-friendly; [[scrubTags]]);
  *  - `dict` — north-star `<PERSON_1>`-style numbered aliases with a
  *    per-document alias dictionary ([[scrubDict]]);
  *  - `ref`  — reference HMAC-seeded aliases ([[RefAlias]]), including the
  *    JPY reformat branch ([[scrubRef]]).
  */
object Scrub {

  /** The reference replacer's order (app/main.py:107-114). */
  val ReferenceOrder: Vector[String] = Vector("email", "phone", "amount", "id")

  /** Extended order for the full pipeline: reference regexes first, then the
    * rule-NER patterns in their evaluation order (our canonical extension for
    * the north-star entity classes: names, postal addresses, ...). It is the
    * order of [[Patterns.byName]]: bit i of a scan mask is `FullOrder(i)`. */
  val FullOrder: Vector[String] =
    ReferenceOrder ++ Vector("postal", "address", "name_kanji", "name_hiragana", "name_katakana")
  require(FullOrder == Patterns.byName.map(_._1))

  /** Map pattern name → alias kind (postal hits alias as address; the three
    * name patterns alias as name — matching the NER hit types). */
  def kindOf(patternName: String): String = Patterns.byName(Patterns.indexOf(patternName))._2

  private val patternKind: Array[String] = Patterns.byName.map(_._2).toArray

  private val FullBits = (1 << FullOrder.size) - 1
  private val RefBits = (1 << ReferenceOrder.size) - 1

  private val orderBitsCache = new java.util.concurrent.ConcurrentHashMap[Seq[String], Integer]()

  /** The scan mask of a pattern order, which must keep [[FullOrder]]'s
    * relative order (the union tries the patterns in that order). */
  private def orderBits(names: Seq[String]): Int =
    if (names eq FullOrder) FullBits
    else if (names eq ReferenceOrder) RefBits
    else orderBitsCache.computeIfAbsent(names, { ns =>
      val idx = ns.map(Patterns.indexOf)
      require(idx.sliding(2).forall(p => p.size < 2 || p(0) < p(1)),
        s"a scan order must follow FullOrder: $ns")
      Integer.valueOf(idx.foldLeft(0)((m, i) => m | (1 << i)))
    }).intValue

  /** The chars of `text`: a [[CharsView]]'s backing array as is, else a copy. */
  private[core] def chars(text: CharSequence): Array[Char] = text match {
    case v: CharsView => v.array
    case s: String => s.toCharArray
    case t =>
      val a = new Array[Char](t.length)
      var i = 0
      while (i < a.length) { a(i) = t.charAt(i); i += 1 }
      a
  }

  /** Trigger class of each UTF-16 unit: 1 '@'; 2 a digit; 4 a CJK/kana
    * unit (any unit from U+3000: kana from U+3040, CJK from U+4E00, and the
    * U+3000-block punctuation — 〒 U+3012 is here, but postal's 〒 prefix
    * is optional, so postal stays digit-triggered); 8 one of `都道府県`;
    * 16 ','; 32 a high surrogate. */
  private val triggerClass: Array[Byte] = Array.tabulate(65536) { u =>
    val c = u.toChar
    ((if (c == '@') 1 else 0) | (if (CharClass.isDigit(c)) 2 else 0) |
      (if (c >= '　') 4 else 0) | (if ("都道府県".indexOf(c) >= 0) 8 else 0) |
      (if (c == ',') 16 else 0) | (if (Character.isHighSurrogate(c)) 32 else 0)).toByte
  }
  private final val AllTriggers = 31

  /** Trigger bitmask of a text: the OR of its units' [[triggerClass]]
    * bits 1-16. `\d` also matches supplementary digits (e.g. U+1D7CF), so a
    * high surrogate sets the digit bit when its code point is a digit. One
    * table load per unit, until every bit is set. */
  private def triggerMaskOf(a: Array[Char], n: Int): Int = {
    val cls = triggerClass
    var mask = 0
    var i = 0
    while (i < n && mask != AllTriggers) {
      val t = cls(a(i))
      mask |= t & AllTriggers
      if (t > AllTriggers && i + 1 < n && Character.isLowSurrogate(a(i + 1)) &&
          Character.isDigit(Character.toCodePoint(a(i), a(i + 1))))
        mask |= 2
      i += 1
    }
    mask
  }

  private[core] def triggerMask(text: CharSequence): Int =
    triggerMaskOf(chars(text), text.length)

  /** The patterns whose trigger units all occur in `a(0 until n)`: a
    * pattern cannot match without them. email needs '@'; phone, id and
    * postal a digit; amount a digit and ','; the names a CJK/kana unit;
    * address a CJK unit and one of `都道府県`. */
  private[core] def triggeredBits(a: Array[Char], n: Int): Int = {
    val m = triggerMaskOf(a, n)
    var bits = 0
    if ((m & 1) != 0) bits |= 1 << Patterns.Email
    if ((m & 2) != 0) {
      bits |= (1 << Patterns.Phone) | (1 << Patterns.Id) | (1 << Patterns.Postal)
      if ((m & 16) != 0) bits |= 1 << Patterns.Amount
    }
    if ((m & 4) != 0) {
      bits |= (1 << Patterns.NameKanji) | (1 << Patterns.NameHiragana) |
        (1 << Patterns.NameKatakana)
      if ((m & 8) != 0) bits |= 1 << Patterns.Address
    }
    bits
  }

  /** The order of each scan mask; [[FullOrder]] and [[ReferenceOrder]]
    * themselves for theirs, which [[orderBits]] reads without a lookup. */
  private val namesByBits: Array[Vector[String]] = Array.tabulate(FullBits + 1)(b =>
    if (b == FullBits) FullOrder
    else if (b == RefBits) ReferenceOrder
    else FullOrder.indices.filter(i => (b >> i & 1) != 0).map(FullOrder).toVector)

  /** Drop patterns whose trigger units do not all occur. */
  def triggered(text: CharSequence, names: Seq[String]): Seq[String] = {
    val bits = orderBits(names)
    if (bits == 0 || text.length == 0) Vector.empty
    else namesByBits(bits & triggeredBits(chars(text), text.length))
  }

  /** Receives the matches of [[scan]] in text order; `p` is the pattern's
    * index in [[Patterns.byName]] (= its bit). */
  private[core] trait HitSink { def hit(p: Int, start: Int, end: Int): Unit }

  /** The union scan loop (see the object scaladoc): `sink` gets every match
    * of the union of the patterns in `enabled`, leftmost-first, as
    * (pattern, start, end). */
  private[core] def scan(a: Array[Char], n: Int, enabled: Int, sink: HitSink): Unit = {
    if (enabled == 0) return
    val starts = Patterns.starts
    val others = enabled & ~(1 << Patterns.Email)
    var runEnd = 0 // the email of the local-part run that ends here is runEmail
    var runEmail = -1
    var i = 0
    while (i < n) {
      // inside a run whose email failed only the other patterns can start
      if (i < runEnd && runEmail < 0)
        while (i < runEnd && (starts(a(i)) & others) == 0) i += 1
      else
        while (i < n && (starts(a(i)) & enabled) == 0) i += 1
      if (i < n) {
        var bits = starts(a(i)) & enabled
        var p = 0
        var end = -1
        while (end < 0 && bits != 0) {
          p = Integer.numberOfTrailingZeros(bits)
          if (p == Patterns.Email) {
            if (i >= runEnd) {
              runEnd = Patterns.localRunEnd(a, i, n)
              runEmail = Patterns.emailAfter(a, runEnd, n)
            }
            end = runEmail
          } else end = Patterns.matchAt(p, a, i, n)
          bits &= bits - 1
        }
        if (end >= 0) { sink.hit(p, i, end); i = end }
        else i += 1
      }
    }
  }

  /** [[scan]] of `text` over the pattern order `names`. */
  private[core] def forEachHit(text: CharSequence, names: Seq[String], sink: HitSink): Unit = {
    val bits = orderBits(names)
    val n = text.length
    if (bits != 0 && n != 0) {
      val a = chars(text)
      scan(a, n, bits & triggeredBits(a, n), sink)
    }
  }

  /** Fixed-token mode: every match of kind k becomes `<K>`. */
  def scrubTags(text: String, names: Seq[String] = ReferenceOrder): String =
    total(aliasScrub(Aliases.Tags, text, "", "", orderBits(names), Nil), text).scrubbed

  /** Result of a dictionary scrub: the scrubbed text, the per-document alias
    * dictionary (original → alias, insertion-ordered by first occurrence) and
    * per-kind replacement counts. */
  final case class DictResult(
      scrubbed: String,
      aliases: Map[String, String],
      counts: Map[String, Long])

  private val NoHits = DictResult(null, Map.empty, Map.empty)

  /** North-star mode: deterministic per-document numbered aliases
    * (`<PERSON_1>`, `<EMAIL_2>`, ...). The same original string always maps to
    * the same alias within a document; numbering follows first occurrence in
    * the single scan, per tag. Deterministic given (text, names). */
  def scrubDict(text: String, names: Seq[String] = FullOrder): DictResult =
    total(aliasScrub(Aliases.Dict, text, "", "", orderBits(names), Nil), text)

  /** Reference-alias mode over the reference's 4-pattern union, including the
    * JPY branch — byte-identical to the Python service for phone/amount/id. */
  def scrubRef(text: String, keyB64: String, ns: String,
               names: Seq[String] = ReferenceOrder): String =
    total(aliasScrub(Aliases.Ref, text, keyB64, ns, orderBits(names), Nil), text).scrubbed

  /** The patterns of `order` whose kind a policies csv enables.
    * `policiesCsv` = the reference's per-request `policies` (comma-separated
    * hit kinds, app/main.py:379); empty = all patterns. */
  def filteredOrder(order: Seq[String], policiesCsv: String): Seq[String] =
    namesByBits(orderBits(order) & policyBits(policiesCsv))

  /** Hit KINDS enabled by a policies csv, cached per csv. */
  private val policyKindsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
  def policyKinds(policiesCsv: String): Set[String] =
    policyKindsCache.computeIfAbsent(policiesCsv,
      csv => csv.split(',').map(_.trim).filter(_.nonEmpty).toSet)

  /** Scan mask of the patterns whose kind a policies csv enables. */
  private val policyBitsCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def policyBits(policiesCsv: String): Int =
    if (policiesCsv.isEmpty) FullBits
    else policyBitsCache.computeIfAbsent(policiesCsv, { csv =>
      val ks = policyKinds(csv)
      Integer.valueOf(patternKind.indices.foldLeft(0)((m, i) =>
        if (ks(patternKind(i))) m | (1 << i) else m))
    }).intValue

  /** The union pass of the scrub as a SPAN view: same scan, same order
    * resolution, but hits are collected instead of replaced — the input to
    * the ENHANCED merge path. conf/reason carry the rule-detector values
    * only where the merge needs them (kind + offsets + text decide). */
  def unionHits(text: CharSequence, names: Seq[String]): Vector[Hit] = {
    val bits = orderBits(names)
    val n = text.length
    if (bits == 0 || n == 0) Vector.empty
    else { val a = chars(text); hitsOf(a, n, bits & triggeredBits(a, n)) }
  }

  private def hitsOf(a: Array[Char], n: Int, enabled: Int): Vector[Hit] = {
    val out = Vector.newBuilder[Hit]
    scan(a, n, enabled, (p, start, end) =>
      out += Hit(patternKind(p), new String(a, start, end - start), start, end, 1.0, "regex"))
    out.result()
  }

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
    * left the scrub is the plain union splice (the scan's spans are already
    * non-overlapping); otherwise — the reference's
    * `regex_hits.extend(ai_ner)` before redaction (app/main.py:241-245) —
    * rule and model spans are merged with [[dedupSpans]] (rule hits listed
    * FIRST: both sorts are stable, so at an identical (start, length) the
    * rule hit wins) and spliced in one pass. Kinds the reference aliases
    * via Faker (name/address) use [[RefAlias]]'s branches; org/misc take
    * its fallback draw — total for every model kind. */
  def scrubWithModeRaw(mode: String, t: CharSequence, keyB64: String, ns: String,
                       policiesCsv: String, modelHits: Seq[Hit] = Nil): DictResult = {
    val rule = Aliases.rule(mode)
    val bits = (if (rule == Aliases.Ref) RefBits else FullBits) & policyBits(policiesCsv)
    val hits =
      if (policiesCsv.isEmpty || modelHits.isEmpty) modelHits
      else { val ks = policyKinds(policiesCsv); modelHits.filter(h => ks(h.kind)) }
    aliasScrub(rule, t, keyB64, ns, bits, hits)
  }

  /** The scrub of `t` in alias `rule` over the patterns in `bits`, merged
    * with `modelHits` when there are any. */
  private def aliasScrub(rule: Int, t: CharSequence, keyB64: String, ns: String,
                         bits: Int, modelHits: Seq[Hit]): DictResult = {
    val n = t.length
    if (n == 0) return NoHits
    val a = chars(t)
    val aliases = new Aliases(rule, keyB64, ns, a, n)
    val enabled = if (bits == 0) 0 else bits & triggeredBits(a, n)
    if (modelHits.isEmpty) scan(a, n, enabled, aliases)
    else dedupSpans(hitsOf(a, n, enabled) ++ modelHits).foreach(aliases.putHit)
    aliases.result
  }

  /** String-total [[scrubWithModeRaw]]: unchanged ⇒ scrubbed = the input. */
  def scrubWithMode(mode: String, t: String, keyB64: String, ns: String,
                    policiesCsv: String, modelHits: Seq[Hit] = Nil): DictResult =
    total(scrubWithModeRaw(mode, t, keyB64, ns, policiesCsv, modelHits), t)

  /** `d` with an unchanged (NULL) scrub replaced by the input itself. */
  private def total(d: DictResult, t: String): DictResult =
    if (d.scrubbed == null) d.copy(scrubbed = t) else d

  /** The hit kinds with a fixed index in [[Aliases]]: every kind of
    * [[Patterns.byName]], then the model-NER-only kinds (Hf2Pii: ORG→org,
    * MISC→misc). */
  private val Kinds: Array[String] =
    Array("email", "phone", "amount", "id", "address", "name", "org", "misc")
  private val kindIndex: Map[String, Int] = Kinds.zipWithIndex.toMap
  private val patternKindIndex: Array[Int] = patternKind.map(kindIndex)

  /** `dict` tag of each kind of [[Kinds]], then of every other kind. */
  private val DictTags: Array[String] =
    Array("EMAIL", "PHONE", "AMOUNT", "ID", "ADDRESS", "PERSON", "ORG", "MISC", "PII")
  private val OtherTag = DictTags.length - 1
  private val CachedAliases = 32
  /** `<TAG_n>` for n ≤ [[CachedAliases]], shared by every document. */
  private val dictAliases: Array[Array[String]] =
    DictTags.map(t => Array.tabulate(CachedAliases)(i => s"<${t}_${i + 1}>"))
  private def dictAlias(tag: Int, n: Int): String =
    if (n <= CachedAliases) dictAliases(tag)(n - 1)
    else "<" + DictTags(tag) + "_" + n + ">"

  /** One document's alias state for a scrub mode — the ONE place each
    * mode's alias rule lives — and the one splice of every scrub:
    *  - `dict`: `<TAG_n>` numbered per tag by first occurrence of each
    *    (tag, original); the aliases map lists originals in that order;
    *  - `tags`: fixed `<KIND>` tokens, no aliases;
    *  - `ref`:  [[RefAlias]] aliases with the JPY rule, keyed by original.
    * A hit counts its kind and appends its replacement to a char array that
    * takes the text between hits in bulk from the input's chars; [[result]]
    * makes the one String. Originals are looked up in an open-address table
    * by hashing their chars where they lie, so a repeated original
    * allocates nothing. The counts are kept in the `mutable.HashMap` whose
    * iteration order `n_hits` exposes (after `toMap`), and [[result]]
    * builds `alias_dict` with the contents and order of a `LinkedHashMap` of
    * `dict` aliases or a `mutable.HashMap` of `ref` aliases, then `toMap`.
    * All of it is allocated on the first hit — most web rows have none. */
  private final class Aliases(rule: Int, keyB64: String, ns: String, src: Array[Char], srcLen: Int)
      extends HitSink {
    // the spliced text so far is out(0 until len); src continues at last
    private var out: Array[Char] = null
    private var len = 0
    private var last = 0
    private var counts: mutable.HashMap[String, Long] = null
    // alias entries in first-occurrence order, and their hash slots
    private var origs: Array[String] = null
    private var tags: Array[Int] = null
    private var hashes: Array[Int] = null
    private var vals: Array[String] = null
    private var nEntries = 0
    private var slots: Array[Int] = null // entry index + 1, 0 = empty
    private var perTag: Array[Int] = null

    def hit(p: Int, start: Int, end: Int): Unit =
      put(start, end, alias(patternKind(p), patternKindIndex(p), src, start, end, null))

    /** Splices a (rule or model) hit, aliasing its `text`. */
    def putHit(h: Hit): Unit =
      put(h.start, h.end, alias(h.kind, kindIndex.getOrElse(h.kind, -1),
        h.text.toCharArray, 0, h.text.length, h.text))

    private def reserve(k: Int): Unit =
      if (out == null) out = new Array[Char](math.max(srcLen + 16, k))
      else if (len + k > out.length)
        out = java.util.Arrays.copyOf(out, math.max(out.length * 2, len + k))

    /** Appends the text up to `start`, then `alias` for `src(start until end)`. */
    private def put(start: Int, end: Int, alias: String): Unit = {
      val gap = start - last
      reserve(gap + alias.length)
      System.arraycopy(src, last, out, len, gap)
      len += gap
      alias.getChars(0, alias.length, out, len)
      len += alias.length
      last = end
    }

    /** Replacement of `src(s until e)` (the original, `orig` when already a
      * String) as a hit of `kind`, whose index in [[Kinds]] is `k` (-1 for a
      * model kind outside them: tag `PII`, token `<KIND>`). */
    private def alias(kind: String, k: Int, src: Array[Char], s: Int, e: Int, orig: String): String = {
      if (counts == null) counts = mutable.HashMap.empty
      counts.update(kind, counts.getOrElse(kind, 0L) + 1L)
      rule match {
        case Aliases.Tags =>
          if (k >= 0) Aliases.TagTokens(k) else "<" + kind.toUpperCase + ">"
        case Aliases.Dict =>
          val tag = if (k >= 0) k else OtherTag
          val h = hashOf(tag, src, s, e)
          val i = find(tag, h, src, s, e)
          if (i >= 0) vals(i)
          else {
            if (perTag == null) perTag = new Array[Int](DictTags.length)
            perTag(tag) += 1
            add(tag, h, if (orig != null) orig else new String(src, s, e - s), dictAlias(tag, perTag(tag)))
          }
        case _ =>
          val h = hashOf(0, src, s, e)
          val i = find(0, h, src, s, e)
          if (i >= 0) vals(i)
          else {
            val o = if (orig != null) orig else new String(src, s, e - s)
            add(0, h, o, RefAlias.aliasWithJpyRule(kind, o, keyB64, ns))
          }
      }
    }

    private def hashOf(tag: Int, src: Array[Char], s: Int, e: Int): Int = {
      var h = tag
      var i = s
      while (i < e) { h = 31 * h + src(i); i += 1 }
      h ^ (h >>> 16)
    }

    /** Entry of (tag, `src(s until e)`), or -1. */
    private def find(tag: Int, h: Int, src: Array[Char], s: Int, e: Int): Int = {
      if (slots == null) return -1
      val mask = slots.length - 1
      var j = h & mask
      while (true) {
        val x = slots(j) - 1
        if (x < 0) return -1
        if (hashes(x) == h && tags(x) == tag && sameChars(origs(x), src, s, e)) return x
        j = (j + 1) & mask
      }
      -1
    }

    private def sameChars(o: String, src: Array[Char], s: Int, e: Int): Boolean = {
      if (o.length != e - s) return false
      var i = 0
      while (i < o.length) { if (o.charAt(i) != src(s + i)) return false; i += 1 }
      true
    }

    /** Adds an entry (known absent) and returns its alias. */
    private def add(tag: Int, h: Int, orig: String, alias: String): String = {
      if (slots == null) {
        slots = new Array[Int](16)
        origs = new Array[String](8); tags = new Array[Int](8)
        hashes = new Array[Int](8); vals = new Array[String](8)
      } else if (nEntries == origs.length) {
        val c = nEntries * 2
        origs = java.util.Arrays.copyOf(origs, c); tags = java.util.Arrays.copyOf(tags, c)
        hashes = java.util.Arrays.copyOf(hashes, c); vals = java.util.Arrays.copyOf(vals, c)
        slots = new Array[Int](c * 2)
        var x = 0
        while (x < nEntries) { place(x); x += 1 }
      }
      origs(nEntries) = orig; tags(nEntries) = tag; hashes(nEntries) = h; vals(nEntries) = alias
      place(nEntries)
      nEntries += 1
      alias
    }

    private def place(x: Int): Unit = {
      val mask = slots.length - 1
      var j = hashes(x) & mask
      while (slots(j) != 0) j = (j + 1) & mask
      slots(j) = x + 1
    }

    def result: DictResult =
      if (counts == null) NoHits
      else {
        reserve(srcLen - last)
        System.arraycopy(src, last, out, len, srcLen - last)
        DictResult(new String(out, 0, len + srcLen - last), aliasMap, counts.toMap)
      }

    private def aliasMap: Map[String, String] =
      if (nEntries == 0) Map.empty
      else if (rule == Aliases.Dict) {
        // a LinkedHashMap keyed (tag, original), then mapped to original
        // and toMap: originals in first-occurrence order, a later tag's
        // alias replacing an earlier one's value in place
        val b = Map.newBuilder[String, String]
        var x = 0
        while (x < nEntries) { b += origs(x) -> vals(x); x += 1 }
        b.result()
      } else {
        val m = mutable.HashMap.empty[String, String]
        var x = 0
        while (x < nEntries) { m.update(origs(x), vals(x)); x += 1 }
        m.toMap
      }
  }

  private object Aliases {
    final val Dict = 0
    final val Tags = 1
    final val Ref = 2

    /** An unknown mode fails at once, hit or no hit. */
    def rule(mode: String): Int = mode match {
      case "dict" => Dict
      case "tags" => Tags
      case "ref" => Ref
      case other => sys.error(s"unknown scrub mode: $other")
    }

    val TagTokens: Array[String] = Kinds.map(k => "<" + k.toUpperCase + ">")
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
