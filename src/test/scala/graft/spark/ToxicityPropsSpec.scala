package graft.spark

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.scalacheck.rng.Seed

/** Property pins for the toxicity tiers (pure JVM — the Matcher and the
  * Java-regex pattern are exactly what the Spark expressions execute):
  * the automaton tier must agree with the regex tier on EVERY input, not
  * just the curated ToxicitySpec cases. Fixed initial seed — the driver's
  * run explores identical cases (a deterministic regression net). */
object ToxicityPropsSpec extends Properties("toxicity") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withInitialSeed(Seed(0xC0FFEE_2026L)).withMinSuccessfulTests(200)

  // plain lowercase ascii words (the regex tier's contract); "toxic" is
  // excluded so the scrub-idempotence property is not defeated by the
  // mask token itself re-matching (a real — symmetric — property of both
  // tiers, covered by the equivalence property instead)
  private val word: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar))
      .map(_.mkString).suchThat(w => w.nonEmpty && w != "toxic")

  private val wordList: Gen[List[String]] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word))

  // text mixing ascii prose, word-char runs, CJK and LIST WORDS planted
  // with random casing and random adjacency (the boundary cases)
  private def textFor(ws: List[String]): Gen[String] = {
    val planted = Gen.oneOf(ws).flatMap { w =>
      Gen.oneOf(
        s" $w ", s"$w.", s"($w)", s" ${w.toUpperCase} ",
        s"x$w", s"${w}s", s"_$w ", s"山${w}国", s" $w$w ")
    }
    val ascii = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 3 -> Gen.const(' '),
      1 -> Gen.oneOf("-_,.<>\n".toSeq))).map(_.mkString)
    val cjk = Gen.listOf(Gen.choose('一', '且')).map(_.mkString)
    Gen.listOfN(6, Gen.frequency(3 -> planted, 2 -> ascii, 1 -> cjk))
      .map(_.mkString)
  }

  /** Count of `java.util.regex` matches of [[Toxicity.pattern]] — the
    * reference the automaton is compared with. */
  def regexCount(ws: Seq[String], t: String): Long = {
    val m = java.util.regex.Pattern.compile(Toxicity.pattern(ws)).matcher(t)
    var n = 0L
    while (m.find()) n += 1
    n
  }

  property("automaton count == Java-regex count on every input") =
    forAll(wordList.flatMap(ws => textFor(ws).map(ws -> _))) {
      case (ws, t) => Toxicity.Matcher(ws).countIn(t) == regexCount(ws, t)
    }

  property("automaton scrub == Java-regex replaceAll on every input") =
    forAll(wordList.flatMap(ws => textFor(ws).map(ws -> _))) {
      case (ws, t) =>
        Toxicity.Matcher(ws).scrubIn(t) ==
          java.util.regex.Pattern.compile(Toxicity.pattern(ws))
            .matcher(t).replaceAll("<TOXIC>")
    }

  property("scrub is idempotent: masked text has zero hits") =
    forAll(wordList.flatMap(ws => textFor(ws).map(ws -> _))) {
      case (ws, t) =>
        val m = Toxicity.Matcher(ws)
        m.countIn(m.scrubIn(t)) == 0L
    }

  property("a single-entry LangBank under '*' equals the flat Matcher") =
    forAll(wordList.flatMap(ws => textFor(ws).map(ws -> _)),
      Gen.oneOf("en", "ja", "xx", null: String)) {
      case ((ws, t), lang) =>
        val bank = Toxicity.LangBank(Map("*" -> ws))
        val m = Toxicity.Matcher(ws)
        bank.countIn(lang, t) == m.countIn(t) && bank.scrubIn(lang, t) == m.scrubIn(t)
    }
}
