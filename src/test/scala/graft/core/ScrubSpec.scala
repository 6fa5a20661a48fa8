package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for scrub internals not exercised by the CPython vectors:
  * greedy span dedup (op 19 analog), trigger prefilter equivalence,
  * line-scope vs whole-text divergence. */
class ScrubSpec extends AnyFunSuite {

  test("dedupSpans keeps leftmost-longest non-overlapping hits") {
    def h(k: String, s: Int, e: Int) = Hit(k, "x" * (e - s), s, e, 0.9, "t")
    // overlapping: [0,5) vs [3,8) → keep first; [8,10) disjoint kept;
    // same start [12,20) vs [12,15) → longer kept
    val in = Seq(h("a", 3, 8), h("b", 0, 5), h("c", 8, 10), h("d", 12, 15), h("e", 12, 20))
    val out = Scrub.dedupSpans(in)
    assert(out.map(x => (x.kind, x.start, x.end)) ==
      Vector(("b", 0, 5), ("c", 8, 10), ("e", 12, 20)))
  }

  test("dedupSpans: touching spans both survive (end == next start)") {
    def h(s: Int, e: Int) = Hit("k", "", s, e, 0.9, "t")
    assert(Scrub.dedupSpans(Seq(h(0, 4), h(4, 8))).size == 2)
  }

  test("merged NER scrub: span conflicts resolve by (start, -len), rule wins ties") {
    val key = "Z3JhZnQtc3BhcmstcGlpLWRlZmF1bHQta2V5IQ=="
    // regex email at [5,13); model hits: one identical to the email span,
    // one strictly inside it, one in clean text, one overlapping the tail
    val text = "mail a@ex.com and Example Corp"
    def mh(kind: String, t: String, s: Int) =
      Hit(kind, t, s, s + t.length, 0.9, "model:X")
    val hits = Seq(
      mh("org", "a@ex.com", 5),     // same span as the regex email → regex wins
      mh("org", "ex.com", 7),       // inside the email span → dropped
      mh("org", "Example Corp", 18) // clean region → replaced
    )
    val d = Scrub.scrubWithMode("dict", text, key, "ns", "", hits)
    assert(d.scrubbed == "mail <EMAIL_1> and <ORG_1>", d.scrubbed)
    assert(d.counts == Map("email" -> 1L, "org" -> 1L), d.counts)
    assert(d.aliases == Map("a@ex.com" -> "<EMAIL_1>", "Example Corp" -> "<ORG_1>"))
  }

  test("merged NER scrub: longer model span beats shorter rule span at same start") {
    val key = "Z3JhZnQtc3BhcmstcGlpLWRlZmF1bHQta2V5IQ=="
    val text = "ref ACC-12345-EXT done"
    // rule id matches ACC-12345 at [4,13); a model hit covers [4,17)
    val hits = Seq(Hit("org", "ACC-12345-EXT", 4, 17, 0.9, "model:ORG"))
    val d = Scrub.scrubWithMode("dict", text, key, "ns", "", hits)
    assert(d.scrubbed == "ref <ORG_1> done", d.scrubbed)
    assert(d.counts == Map("org" -> 1L))
  }

  test("merged NER scrub: policies filter model hits by kind") {
    val key = "Z3JhZnQtc3BhcmstcGlpLWRlZmF1bHQta2V5IQ=="
    val text = "mail a@ex.com and Example Corp"
    val hits = Seq(Hit("org", "Example Corp", 18, 30, 0.9, "model:ORG"))
    val d = Scrub.scrubWithMode("dict", text, key, "ns", "email", hits)
    assert(d.scrubbed == "mail <EMAIL_1> and Example Corp", d.scrubbed)
    assert(d.counts == Map("email" -> 1L))
  }

  test("merged NER scrub in ref mode aliases model kinds via RefAlias branches") {
    val key = "Z3JhZnQtc3BhcmstcGlpLWRlZmF1bHQta2V5IQ=="
    val text = "by 山田太郎 at Example Corp"
    val hits = Seq(
      Hit("name", "山田太郎", 3, 7, 0.9, "model:PER"),
      Hit("org", "Example Corp", 11, 23, 0.9, "model:ORG"))
    val d = Scrub.scrubWithMode("ref", text, key, "ns", "", hits)
    // name branch: "family given" from the embedded word lists; org falls
    // back to the misc draw — both deterministic for a fixed (key, ns)
    assert(!d.scrubbed.contains("山田太郎") && !d.scrubbed.contains("Example Corp"),
      d.scrubbed)
    assert(d.counts == Map("name" -> 1L, "org" -> 1L))
    val again = Scrub.scrubWithMode("ref", text, key, "ns", "", hits)
    assert(d == again)
  }

  test("an unknown scrub mode fails at once, hit or no hit") {
    val key = "Z3JhZnQtc3BhcmstcGlpLWRlZmF1bHQta2V5IQ=="
    val hit = Seq(Hit("org", "Example Corp", 0, 12, 0.9, "model:ORG"))
    for ((t, hits) <- Seq("" -> Nil, "Example Corp here" -> Nil,
        "Example Corp here" -> hit, "Example Corp, mail a@ex.com" -> Nil)) {
      val e = intercept[RuntimeException](Scrub.scrubWithMode("dcit", t, key, "ns", "", hits))
      assert(e.getMessage == "unknown scrub mode: dcit")
    }
  }

  test("trigger prefilter never changes scrub output") {
    // texts chosen to hit each trigger combination incl. none
    val texts = Seq(
      "no pii words only here",
      "digits 123 4567 only", "at a@b.cc only", "kanji 山田太郎 only",
      "mixed a@b.cc 03-1234-5678 山田太郎さん 〒123-4567 ¥1,234 ACC-12345",
      "", "@", "1", "　")
    texts.foreach { t =>
      val sb = new java.lang.StringBuilder
      var last = 0
      UnguardedUnion.spans(t, Scrub.FullOrder).foreach { case (name, start, end) =>
        sb.append(t, last, start).append("<" + Scrub.kindOf(name).toUpperCase + ">")
        last = end
      }
      sb.append(t.substring(last))
      assert(Scrub.scrubTags(t, Scrub.FullOrder) == sb.toString, s"text=$t")
    }
  }

  test("scans resuming inside a local-part run find the unguarded union's email") {
    val seeds = Seq("x1234567y@ab.co", "03-1234-5678abc@x.com", "a@b.cox_y@c.com",
      "〒123-4567ab@cd.ef", "ACC-12345x@y.zz", "x1234567y@ab", "x1234567" * 5 + "@ab.co",
      "zz 〒123-4567ab〒765-4321cd@e.fg", "1,234a@b.cc", "ACC-12345_ORD-99999@q.rs")
    seeds.foreach { t =>
      UnguardedUnion.orders.foreach { o =>
        assert(UnguardedUnion.engineSpans(t, o) == UnguardedUnion.spans(t, o),
          s"text=$t order=$o")
      }
    }
    // the loop's local-part test is the regex class, char for char
    val local = java.util.regex.Pattern.compile("[A-Za-z0-9._%+-]")
    assert((0 to 0xFFFF).forall(c =>
      Patterns.isEmailLocal(c.toChar) == local.matcher(c.toChar.toString).matches))
    // the resumed email is emitted at the offset the previous match ended
    assert(UnguardedUnion.engineSpans("〒123-4567ab@cd.ef", Scrub.FullOrder) ==
      Vector(("postal", 0, 9), ("email", 9, 17)))
    assert(Scrub.scrubTags("a@b.cox_y@c.com") == "<EMAIL><EMAIL>")
    assert(Detect.classifyByRegex("a@b.cox_y@c.com").map(_.text) ==
      Vector("a@b.cox", "_y@c.com"))
  }

  test("a postal code of supplementary digits is scrubbed") {
    // U+1D7CF..U+1D7D5: \d matches them, but only as surrogate pairs
    val t = "code \uD835\uDFCF\uD835\uDFD0\uD835\uDFD1\uD835\uDFD2" +
      "\uD835\uDFD3\uD835\uDFD4\uD835\uDFD5 here"
    assert((Scrub.triggerMask(t) & 2) != 0)
    assert(UnguardedUnion.spans(t, Scrub.FullOrder) == Vector(("postal", 5, 19)))
    assert(UnguardedUnion.engineSpans(t, Scrub.FullOrder) == Vector(("postal", 5, 19)))
    assert(Detect.ruleNer(t).map(h => (h.kind, h.start, h.end)) == Vector(("address", 5, 19)))
    assert(Scrub.scrubTags(t, Scrub.FullOrder) == "code <ADDRESS> here")
  }

  test("start classes are their documented regex classes") {
    val documented = Map(
      "email" -> "[A-Za-z0-9._%+-]", "phone" -> "[0+]", "amount" -> "[¥J\\s\\d]",
      "id" -> "[AUO]", "postal" -> "[〒\\d]", "address" -> "[一-龠]",
      "name_kanji" -> "[一-龠]", "name_hiragana" -> "[ぁ-ゔ]", "name_katakana" -> "[ァ-ヶ]")
    assert(documented.keySet == Patterns.byName.map(_._1).toSet)
    // a high surrogate can begin a supplementary \d; a low one begins nothing
    val digitLed = Set("amount", "postal")
    documented.foreach { case (name, cls) =>
      val bit = 1 << Patterns.indexOf(name)
      val m = java.util.regex.Pattern.compile(cls, java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
        .matcher("")
      val wrong = (0 to 0xFFFF).map(_.toChar).filter { c =>
        val expected =
          if (Character.isHighSurrogate(c)) digitLed(name) else m.reset(c.toString).matches
        ((Patterns.starts(c) & bit) != 0) != expected
      }
      assert(wrong.isEmpty, s"$name: ${wrong.take(5).map(c => f"U+${c.toInt}%04X")}")
    }
  }

  test("no pattern matches at a unit outside its start class") {
    // soundness of the scan's first-char dispatch: a pattern is tried only
    // where its bit is set in the start table, so it must not match anywhere
    // else. Each unit is tried after a neutral char (lookbehinds and \b see
    // it through transparent bounds) and before continuations that complete
    // every pattern from its second char on, a low surrogate included.
    val continuations = Seq("81-3-1234-5678", "3-1234-5678", "PY 1,234", "PY1,234",
      "CC-12345", "SR-12345", "RD-12345", ",234", "1,234", "23-4567", "234567",
      "@ab.cd", "b@ab.cd", "京都新宿区西 新宿", "田太郎さん", "田 花子様",
      "まだたろう", "ナカハナコ", " 1,234", "\u3000123-4567", "\u00A012,345",
      "\uDFCF23-4567", "\uDFCF,234")
    Scrub.FullOrder.zipWithIndex.foreach { case (name, bit) =>
      val m = UnguardedUnion.compiled(name).matcher("")
        .useTransparentBounds(true).useAnchoringBounds(false)
      val hits = for {
        u <- 0 to 0xFFFF if (Patterns.starts(u) & (1 << bit)) == 0
        k <- continuations
        t = " " + u.toChar + k
        if m.reset(t).region(1, t.length).lookingAt()
      } yield t
      assert(hits.isEmpty, s"$name starts outside its start class: ${hits.take(3)}")
    }
  }

  test("every matcher equals its compiled source anchored at every offset") {
    // random strings over the units at the edges of every pattern's classes:
    // each matcher's end (or -1) at each offset must be the end of the
    // source regex run there with lookingAt and transparent bounds
    val units = Vector("0", "1", "5", "9", "１", "〒", "¥", "J", "P", "Y", "A", "C", "C", "U", "S",
      "R", "O", "D", "-", "+", "8", ",", ".", "@", "a", "b", "x", "Z", "_", "%", " ", "\u3000",
      "\u00A0", "\n", "ー", "\u2212", "\u2010", "\u2011", "\u2013", "\uFF0D", "．", "／", "[",
      "]", "]", "一", "龠", "龡", "都", "道", "府", "県", "市", "区", "町", "村", "山", "田", "ぁ",
      "ゔ", "ゕ", "さ", "ん", "ち", "ゃ", "ァ", "ヶ", "ヷ", "様", "氏", "先", "生", "君",
      "\uD835\uDFCF", "\uD835", "\uDFCF", "\uD83D\uDE00", "\u0301", "\u200C", "é", "\u0660",
      "\u203F", "~")
    val rnd = new java.util.Random(20261019L)
    val ms = Patterns.byName.map { case (name, _, _) =>
      UnguardedUnion.compiled(name).matcher("").useTransparentBounds(true).useAnchoringBounds(false)
    }
    for (_ <- 0 until 10000) {
      val sb = new StringBuilder
      for (_ <- 0 until 1 + rnd.nextInt(24)) sb.append(units(rnd.nextInt(units.size)))
      val t = sb.toString
      val a = t.toCharArray
      for (i <- 0 until t.length; p <- ms.indices) {
        val m = ms(p).reset(t).region(i, t.length)
        val expected = if (m.lookingAt()) m.end() else -1
        assert(Patterns.matchAt(p, a, i, t.length) == expected,
          s"${Scrub.FullOrder(p)} at $i of ${t.map(c => f"${c.toInt}%04X").mkString(" ")}")
      }
    }
  }

  test("n_hits keeps the mutable.HashMap order of its counts, past ten kinds too") {
    // counts were first kept in a mutable.HashMap and then toMap'd; its
    // table grows on any update at the threshold, so 11 kinds with and
    // without a later hit and 12 kinds each give their own order
    val key = "Z3JhZnQtc3BhcmstcGlpLWRlZmF1bHQta2V5IQ=="
    val kinds = Vector("misc", "k1", "name", "k2", "org", "k3", "address", "k4", "email",
      "k5", "k6", "k7")
    val rnd = new java.util.Random(11)
    for (nKinds <- Seq(3, 5, 10, 11, 12); trailing <- Seq(0, 2); _ <- 0 until 20) {
      val ks = scala.util.Random.javaRandomToRandom(rnd).shuffle(kinds).take(nKinds)
      val seq = ks ++ Vector.fill(trailing)(ks(rnd.nextInt(nKinds)))
      val text = "w" * (2 * seq.size)
      val hits = seq.zipWithIndex.map { case (k, i) => Hit(k, "w", 2 * i, 2 * i + 1, 0.9, "model:X") }
      val old = scala.collection.mutable.Map.empty[String, Long]
      seq.foreach(k => old.update(k, old.getOrElse(k, 0L) + 1L))
      for (mode <- Seq("dict", "tags", "ref")) {
        val d = Scrub.scrubWithMode(mode, text, key, "ns", "", hits)
        assert(d.counts.toSeq == old.toMap.toSeq, s"$mode $seq")
      }
    }
  }

  test("email must lead a scan order") {
    intercept[IllegalArgumentException](Scrub.scrubTags("a@b.cc", Vector("phone", "email")))
  }

  test("megabyte documents go through every stage in bounded time") {
    val rnd = new java.util.Random(7)
    val words = Vector("the", "data", "pipeline", "reads", "rows", "03-1234-5678",
      "a@b.cc", "¥1,234", "and", "writes", "them", "back", "quickly")
    val sb = new StringBuilder
    while (sb.length < 1000000) {
      sb.append(words(rnd.nextInt(words.size))).append(' ')
      if (rnd.nextInt(20) == 0) sb.append('\n')
    }
    val big = sb.toString
    val t0 = System.nanoTime()
    val d = Scrub.scrubDict(big)
    val m = Quality.metrics(big)
    val (l, _) = LangId.default.classify(big)
    val p = Perplexity.default.perplexity(big)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 10.0, s"1MB doc took ${sec}s")
    assert(d.counts("phone") > 1000 && d.counts("email") > 1000)
    assert(m.nChars == big.length && l == "en" && p < 100)
    // scrubbed output carries no original PII strings
    assert(!d.scrubbed.contains("03-1234-5678") && !d.scrubbed.contains("a@b.cc"))
  }

  test("RefAlias Faker-slot branches are deterministic and shape-correct") {
    val key = "Z3JhZnQtc3BhcmstcGlpLWRlZmF1bHQta2V5IQ=="
    def a(kind: String, orig: String) = RefAlias.alias(kind, orig, key, "ns")
    // determinism: same inputs → same alias; different orig → (almost surely) different
    assert(a("email", "x@y.zz") == a("email", "x@y.zz"))
    assert(a("email", "x@y.zz") != a("email", "q@y.zz"))
    // shapes mirror app/alias.py formats
    assert(a("email", "x@y.zz").matches("""[a-z]+\d{2}@(example\.dev|example\.com|invalid\.test)"""))
    assert(a("name", "山田太郎").matches("""[一-龠]+ .+"""))
    assert(a("address", "東京都X").matches(""".+[都道府県].+\d+-\d+-\d+"""))
    // phone/amount/id shapes (byte-parity covered by RefParitySpec)
    assert(a("phone", "03-1111-2222").matches("""0\d-\d{4}-\d{4}"""))
    assert(a("amount", "¥1,000").matches("""¥\d,\d{3},\d{3}"""))
    assert(a("id", "ACC-12345").matches("""(USR|ORD|ACC)-\d{5}"""))
  }

  test("line scope differs from whole-text only on newline-spanning matches") {
    // amount's \s? can swallow the newline before the digits
    val t = "pay ¥\n1,234 now"
    assert(Scrub.scrubTags(t) != Scrub.scrubTagsLines(t))
    val clean = "line one a@b.cc\nline two 03-1234-5678"
    assert(Scrub.scrubTags(clean) == Scrub.scrubTagsLines(clean))
  }
}
