package graft.core

import scala.collection.immutable.VectorBuilder

/** Pure text→hits detection, a port of the reference's detector semantics.
  *
  * `classifyByRegex` reproduces app/detectors.py:28-34: all email hits first,
  * then phone, amount, id — fixed confidences, fixed reasons.
  * `ruleNer` reproduces app/security_manager.py:177-212 (`ner_process` on one
  * text): postal (kind=address, conf .85), address (.80), then the three name
  * patterns (.75) in order.
  * `detectAll` = classifyByRegex ++ ruleNer, i.e. `merge_with_ner`
  * (app/detectors.py:36-38) with the rule NER as the NER side.
  */
object Detect {

  /** One detector: a pattern, scanned alone, with the reference's fixed
    * confidence and reason. */
  private final class Detector(name: String, val conf: Double, val reason: String) {
    val bit: Int = 1 << Patterns.indexOf(name)
    val kind: String = Scrub.kindOf(name)
  }

  private val regexDetectors = Vector(
    new Detector("email", 0.99, "regex:email"),
    new Detector("phone", 0.95, "regex:phone"),
    new Detector("amount", 0.90, "regex:amount"),
    new Detector("id", 0.88, "regex:id"))

  private val nerDetectors = Vector(
    new Detector("postal", 0.85, "offline_rule_postal"),
    new Detector("address", 0.80, "offline_rule_address"),
    new Detector("name_kanji", 0.75, "offline_rule_name"),
    new Detector("name_hiragana", 0.75, "offline_rule_name"),
    new Detector("name_katakana", 0.75, "offline_rule_name"))

  private val allDetectors = regexDetectors ++ nerDetectors

  /** All hits of each detector in turn, through [[Scrub]]'s scan loop. One
    * trigger scan of the text prunes the detectors that could not match. */
  private def detect(detectors: Vector[Detector], text: String): Vector[Hit] = {
    val a = Scrub.chars(text)
    val n = text.length
    val enabled = Scrub.triggeredBits(a, n)
    val out = new VectorBuilder[Hit]
    detectors.foreach { d =>
      Scrub.scan(a, n, d.bit & enabled, { (_, start, end) =>
        out += Hit(d.kind, text.substring(start, end), start, end, d.conf, d.reason)
      })
    }
    out.result()
  }

  /** app/detectors.py:28-34 — email/phone/amount/id with fixed confs. */
  def classifyByRegex(text: String): Vector[Hit] = detect(regexDetectors, text)

  /** app/security_manager.py:177-212 — rule-based postal/address/name NER. */
  def ruleNer(text: String): Vector[Hit] = detect(nerDetectors, text)

  /** merge_with_ner (app/detectors.py:36-38): regex hits ++ ner hits. */
  def detectAll(text: String): Vector[Hit] = detect(allDetectors, text)

  /** Per-type counts; `includeAmount=false` reproduces the /detect/summary
    * quirk where `amount` is silently excluded (app/main.py:647,672-673). */
  def counts(hits: Seq[Hit], includeAmount: Boolean = true): Map[String, Long] = {
    val filtered = if (includeAmount) hits else hits.filterNot(_.kind == "amount")
    filtered.groupBy(_.kind).map { case (k, v) => k -> v.size.toLong }
  }
}
