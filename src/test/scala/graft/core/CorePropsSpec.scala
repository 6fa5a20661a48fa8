package graft.core

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.scalacheck.rng.Seed

/** Property-based pins over the pure core (no Spark): invariants that must
  * hold for EVERY input, exercised over generated text mixing ASCII, CJK
  * blocks and PII-shaped fragments. The initial seed is FIXED so the
  * driver's `sbt -batch test` run explores the identical cases — this is a
  * broad deterministic regression net, not a roll of the dice per run. */
object CorePropsSpec extends Properties("core") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withInitialSeed(Seed(0xC0FFEE_2026L)).withMinSuccessfulTests(200)

  // ---- generators ---------------------------------------------------------

  private val piiFragments: Gen[String] = Gen.oneOf(
    "a.b+x@ex.co.jp", "03-1234-5678", "+81-3-1234-567", "¥1,234,567",
    "JPY 12,000", "ACC-12345", "USR-9999", "〒123-4567", "1,234",
    "山田太郎さん", "田中 花子様", "東京都新宿区西新宿2-8-1", "やまだたろう氏",
    "タナカハナコ", "１２３-４５６７")

  private val asciiChunk: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 3 -> Gen.const(' '), 1 -> Gen.oneOf("-_,.@#<>()[]{}:;\n".toSeq)
    )).map(_.mkString)

  private val cjkChunk: Gen[String] =
    Gen.listOf(Gen.frequency(
      5 -> Gen.choose('一', '龠'), 2 -> Gen.choose('ぁ', 'ゔ'),
      2 -> Gen.choose('ァ', 'ヶ'), 1 -> Gen.const(' ')
    )).map(_.mkString)

  /** BMP-only mixed text (the corpus invariant — FIXTURES.md). */
  private val text: Gen[String] =
    Gen.listOfN(4, Gen.frequency(
      4 -> asciiChunk, 2 -> cjkChunk, 2 -> piiFragments))
      .map(_.mkString(" "))

  // ---- detector / scrub invariants ----------------------------------------

  property("detectAll hits carry exact offsets into the input") =
    forAll(text) { t =>
      Detect.detectAll(t).forall { h =>
        0 <= h.start && h.start < h.end && h.end <= t.length &&
          t.substring(h.start, h.end) == h.text
      }
    }

  property("dedupSpans output is sorted and non-overlapping") =
    forAll(text) { t =>
      val d = Scrub.dedupSpans(Detect.detectAll(t) ++ Detect.detectAll(t))
      d.sliding(2).forall {
        case Seq(a, b) => a.end <= b.start
        case _ => true
      }
    }

  property("dict scrub is idempotent (aliases never re-match)") =
    forAll(text) { t =>
      val once = Scrub.scrubDict(t).scrubbed
      Scrub.scrubDict(once).scrubbed == once
    }

  property("dict scrub removes every detected span's text occurrence set") =
    forAll(text) { t =>
      val hits = Scrub.dedupSpans(Detect.detectAll(t))
      val s = Scrub.scrubDict(t).scrubbed
      // every deduped hit is replaced at ITS span; the alias markers exist
      hits.isEmpty || s != t
    }

  property("ref aliases are deterministic and JPY inputs stay JPY-prefixed") =
    forAll(Gen.oneOf("phone", "amount", "id", "email", "name", "address"),
           piiFragments) { (kind, orig) =>
      val c = ("Z3JhZnQtc3BhcmstcGlpLWRlZmF1bHQta2V5IQ==", "tenant-a")
      val a1 = RefAlias.aliasWithJpyRule(kind, orig, c._1, c._2)
      val a2 = RefAlias.aliasWithJpyRule(kind, orig, c._1, c._2)
      a1 == a2 &&
        (kind != "amount" || !orig.startsWith("JPY") || a1.startsWith("JPY"))
    }

  // ---- moded scrub == a span-level reference --------------------------------

  /** Model-NER-style hits inside `t`: a few random spans (they may overlap
    * rule hits and each other), with kinds the rule patterns share or lack. */
  private def modelHitsIn(t: String): Gen[List[Hit]] =
    if (t.isEmpty) Gen.const(Nil)
    else Gen.choose(0, 3).flatMap(Gen.listOfN(_, for {
      a <- Gen.choose(0, t.length - 1)
      b <- Gen.choose(a + 1, math.min(t.length, a + 12))
      k <- Gen.oneOf("name", "org", "address", "misc", "email")
    } yield Hit(k, t.substring(a, b), a, b, 0.9, "model:X")))

  private val dictTags = Map("email" -> "EMAIL", "phone" -> "PHONE",
    "amount" -> "AMOUNT", "id" -> "ID", "address" -> "ADDRESS",
    "name" -> "PERSON", "org" -> "ORG", "misc" -> "MISC")

  /** The moded scrub spelled out over spans: rule spans of the mode's
    * policy-filtered order plus policy-filtered model hits, deduped, then
    * spliced with the mode's alias rule. */
  private def referenceScrub(mode: String, t: String, key: String,
                             pol: String, model: Seq[Hit]): Scrub.DictResult = {
    val names = Scrub.filteredOrder(
      if (mode == "ref") Scrub.ReferenceOrder else Scrub.FullOrder, pol)
    val kinds = pol.split(',').map(_.trim).filter(_.nonEmpty).toSet
    val spans = Scrub.dedupSpans(
      Scrub.unionHits(t, names) ++ model.filter(h => pol.isEmpty || kinds(h.kind)))
    // ref: an original keeps its first alias; dict: aliases are numbered
    // per (tag, original) and, in first-occurrence order, name the original.
    // The maps are built as Scala maps of this shape, so their iteration
    // order (which alias_dict and n_hits expose) is pinned too.
    val refAliases = scala.collection.mutable.Map.empty[String, String]
    val byTagOrig = scala.collection.mutable.LinkedHashMap.empty[(String, String), String]
    val perTag = scala.collection.mutable.Map.empty[String, Int]
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val out = new java.lang.StringBuilder
    var last = 0
    spans.foreach { h =>
      counts.update(h.kind, counts.getOrElse(h.kind, 0L) + 1L)
      val alias = mode match {
        case "tags" => "<" + h.kind.toUpperCase + ">"
        case "ref" =>
          refAliases.getOrElseUpdate(h.text, RefAlias.aliasWithJpyRule(h.kind, h.text, key, "ns"))
        case "dict" =>
          val tag = dictTags.getOrElse(h.kind, "PII")
          byTagOrig.getOrElseUpdate((tag, h.text), {
            perTag(tag) = perTag.getOrElse(tag, 0) + 1
            s"<${tag}_${perTag(tag)}>"
          })
      }
      out.append(t, last, h.start).append(alias)
      last = h.end
    }
    out.append(t, last, t.length)
    val aliases =
      if (mode == "ref") refAliases.toMap
      else byTagOrig.map { case ((_, o), a) => o -> a }.toMap
    Scrub.DictResult(out.toString, aliases, counts.toMap)
  }

  property("scrubWithMode == span-level reference in every mode, policy and hit set") =
    forAll(text.flatMap(t => modelHitsIn(t).map(t -> _)),
      Gen.oneOf("dict", "tags", "ref"),
      Gen.oneOf("", "email", "name,address", "phone,org,id")) {
      case ((t, model), mode, pol) =>
        val key = "Z3JhZnQtc3BhcmstcGlpLWRlZmF1bHQta2V5IQ=="
        val got = Scrub.scrubWithMode(mode, t, key, "ns", pol, model)
        val want = referenceScrub(mode, t, key, pol, model)
        got == want && got.aliases.toSeq == want.aliases.toSeq &&
          got.counts.toSeq == want.counts.toSeq
    }

  // ---- linear union scan == the unguarded reference union -----------------

  /** Glued tokens skewed to email, digit and JP alphabets, so local-part runs
    * touch `@`, digit-pattern matches end inside runs and scans resume
    * mid-run; plus the chars at the edges of the start classes and
    * surrogate pairs. Short enough for the quadratic reference. */
  private val scanText: Gen[String] =
    Gen.choose(1, 14).flatMap(k => Gen.listOfN(k, Gen.frequency(
      6 -> Gen.oneOf("@", ".", "-", "_", "+", "%", ",", " ", "\n", "〒", "¥", "JPY"),
      5 -> Gen.stringOfN(3, Gen.oneOf("ab1x.-_Z9".toSeq)).map(_ + "@"),
      4 -> Gen.choose(1, 8).flatMap(Gen.stringOfN(_, Gen.alphaNumChar)),
      4 -> Gen.choose(1, 8).flatMap(Gen.stringOfN(_, Gen.numChar)),
      4 -> Gen.oneOf("x@ab.co", "b.cox", "03-1234-5678", "+81-3-1234-567",
        "1234567", "123-4567", "1,234", "ACC-12345", "USR-9999", ".jp", "@c.com"),
      3 -> Gen.choose(1, 5).flatMap(Gen.stringOfN(_, Gen.oneOf(
        Gen.choose('一', '龠'), Gen.choose('ぁ', 'ゔ'), Gen.choose('ァ', 'ヶ')))),
      1 -> Gen.oneOf("東京都", "新宿区", "さん", "様", "　"),
      // the names' and address's classes, their suffixes and windows
      2 -> Gen.oneOf("都", "道", "府", "県", "市", "区", "町", "村", "さん", "様", "氏",
        "先生", "君", "ちゃん", "山田", "山田太郎花子", "東京都新宿区西 ", "大阪府大阪市北 1]]"),
      // a boundary char of each start class, a supplementary digit
      // (U+1D7CF) and an emoji: the scan's table lookup and surrogate path
      3 -> Gen.oneOf("\u00A0", "\u3000", "１２", "¥", "J", "〒", "+",
        "\uD835\uDFCF", "\uD83D\uDE00"),
      // the first unit outside and the edges of every class: 龠/龡, ぁ/ゔ/ゕ,
      // ァ/ヶ/ヷ, postal's separators (the U+2010 range end and U+2011
      // past it, U+2212, U+FF0D), address's U+FF0E/U+FF0F class end, the
      // brackets and full-width digits
      3 -> Gen.oneOf("龠", "龡", "ぁ", "ゔ", "ゕ", "ァ", "ヶ", "ヷ", "\u2010", "\u2011",
        "\u2212", "\uFF0D", "\uFF0E", "\uFF0F", "[", "]", "]]", "０", "１２３", "４５６７"),
      1 -> Gen.choose(1, 8).map("\uD835\uDFCF" * _)
    )).map(_.mkString))

  property("union scan reproduces the unguarded union find() loop") =
    forAll(Gen.listOfN(25, scanText)) { texts =>
      texts.forall { t =>
        UnguardedUnion.orders.forall(o =>
          UnguardedUnion.engineSpans(t, o) == UnguardedUnion.spans(t, o)) &&
          Detect.detectAll(t).map(h => (h.kind, h.start, h.end)) ==
            Scrub.FullOrder.flatMap(name => UnguardedUnion.spans(t, Vector(name))
              .map { case (_, s, e) => (Scrub.kindOf(name), s, e) })
      }
    }

  // ---- dedup math invariants ----------------------------------------------

  property("minhash signature: fixed length, self-similarity 1") =
    forAll(text) { t =>
      val sig = TextDedup.minHash(t, 3, 64)
      sig.length == 64 && TextDedup.sigSimilarity(sig, sig) == 1.0
    }

  property("signature similarity is within [0,1] and symmetric") =
    forAll(text, text) { (a, b) =>
      val (sa, sb) = (TextDedup.minHash(a, 3, 64), TextDedup.minHash(b, 3, 64))
      val s = TextDedup.sigSimilarity(sa, sb)
      s >= 0.0 && s <= 1.0 && s == TextDedup.sigSimilarity(sb, sa)
    }

  property("fingerprint ignores whitespace runs and case") =
    forAll(text) { t =>
      TextDedup.fingerprint(t.replace(" ", "   ")) ==
        TextDedup.fingerprint(t.toUpperCase(java.util.Locale.ROOT).replace(" ", " \t "))
    }

  // ---- quality / repetition invariants ------------------------------------

  property("quality ratios stay in [0,1]") =
    forAll(text) { t =>
      val m = Quality.metrics(t)
      Seq(m.stopwordRatio, m.symbolRatio, m.dupLineFrac, m.dupWordFrac,
        m.alphaWordRatio, m.cjkRatio).forall(r => r >= 0.0 && r <= 1.0)
    }

  property("gopher repetition fractions stay in [0,1000]") =
    forAll(text, Gen.choose(2, 5)) { (t, n) =>
      val toks = Quality.tokens(t)
      val a = GopherRepetition.topNgramCharFracMilli(toks, n)
      val b = GopherRepetition.dupNgramCharFracMilli(toks, n)
      a >= 0L && a <= 1000L && b >= 0L && b <= 1000L
    }

  // ---- NER tagger scanner invariants --------------------------------------

  property("candidate spans are in-bounds, ordered by start, and non-empty") =
    forAll(text) { t =>
      val spans = NerTag.candidateSpans(t)
      spans.forall { case (a, b) => 0 <= a && a < b && b <= t.length } &&
        spans.map(_._1) == spans.map(_._1).sorted
    }

  property("span features are non-empty and reproducible") =
    forAll(text) { t =>
      NerTag.candidateSpans(t).forall { case (a, b) =>
        val s = t.substring(a, b)
        val f = NerTag.features(s)
        f.nonEmpty && f == NerTag.features(s) && f.contains("BIAS")
      }
    }
}
