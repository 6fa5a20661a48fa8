package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Byte-parity against CPython-generated golden vectors
  * (src/test/resources/golden/ref_vectors.json, produced by
  * tools/gen_vectors.py from the reference's code-defined semantics:
  * regexes app/detectors.py:22-25 + app/security_manager.py:182-191,
  * single-pass union replace app/main.py:100-131, HMAC seed app/alias.py:4-7,
  * MT19937 alias draws app/alias.py:10-19). */
class RefParitySpec extends AnyFunSuite {

  private val root: JsonNode = {
    val in = getClass.getResourceAsStream("/golden/ref_vectors.json")
    require(in != null, "golden vectors missing — run tools/gen_vectors.py")
    try new ObjectMapper().readTree(in)
    finally in.close()
  }
  private val battery: Vector[String] =
    root.get("battery").elements.asScala.map(_.asText).toVector
  private val keyB64 = root.get("key_b64").asText
  private val ns = root.get("ns").asText

  // one pattern through the engine's scan loop (which completes the run-start
  // guarded email pattern, see Scrub), not a bare find() over the pattern
  private def spansOf(name: String, s: String): Vector[(Int, Int, String)] =
    Scrub.unionHits(s, Vector(name)).map(h => (h.start, h.end, h.text))

  test("all nine patterns reproduce CPython finditer spans on the battery") {
    Patterns.byName.foreach { case (name, _, _) =>
      val expected = root.get("spans").get(name)
      battery.zipWithIndex.foreach { case (s, i) =>
        val exp = expected.get(i).elements.asScala.map { n =>
          (n.get(0).asInt, n.get(1).asInt, n.get(2).asText)
        }.toVector
        assert(spansOf(name, s) == exp, s"pattern=$name input=${s.take(60)}")
      }
    }
  }

  private def hitsOf(node: JsonNode): Vector[Hit] =
    node.elements.asScala.map { h =>
      Hit(h.get("kind").asText, h.get("text").asText, h.get("start").asInt,
        h.get("end").asInt, h.get("conf").asDouble, h.get("reason").asText)
    }.toVector

  test("classifyByRegex matches reference hit order/conf/reason") {
    battery.zipWithIndex.foreach { case (s, i) =>
      assert(Detect.classifyByRegex(s) == hitsOf(root.get("classify").get(i)),
        s"input=${s.take(60)}")
    }
  }

  test("ruleNer matches reference ner_process output") {
    battery.zipWithIndex.foreach { case (s, i) =>
      assert(Detect.ruleNer(s) == hitsOf(root.get("ner").get(i)), s"input=${s.take(60)}")
    }
  }

  test("single-pass union replace (tag mode) matches CPython union.sub") {
    val cases = Seq(
      ("union_tag_all", Vector("email", "phone", "amount", "id")),
      ("union_tag_email_id", Vector("email", "id")),
      ("union_tag_phone", Vector("phone")))
    cases.foreach { case (field, names) =>
      battery.zipWithIndex.foreach { case (s, i) =>
        assert(Scrub.scrubTags(s, names) == root.get(field).get(i).asText,
          s"field=$field input=${s.take(60)}")
      }
    }
  }

  test("HMAC seed matches app/alias.py _seed") {
    root.get("seeds").elements.asScala.foreach { n =>
      val got = AliasKey.seed(keyB64, n.get("ns").asText, n.get("kind").asText,
        n.get("orig").asText)
      assert(java.lang.Long.toUnsignedString(got) == n.get("seed").asText)
    }
  }

  test("PyRandom reproduces CPython random.Random draw-for-draw") {
    root.get("mt_vectors").elements.asScala.foreach { n =>
      val seed = java.lang.Long.parseUnsignedLong(n.get("seed").asText)
      val r = PyRandom(seed)
      val draws = n.get("draws").elements.asScala.map(_.asLong).toVector
      val got = Vector(
        r.randint(1, 9), r.randint(1000, 9999), r.randint(0, 999),
        r.randint(10000, 99999), r.choice(Vector(10L, 20L, 30L)),
        r.getrandbits(32), r.getrandbits(32), r.getrandbits(8))
      assert(got == draws, s"seed=${n.get("seed").asText}")
    }
  }

  test("RefAlias phone/amount/id are byte-identical to alias_value") {
    Seq("phone", "amount", "id").foreach { kind =>
      root.get("ref_alias").get(kind).properties.asScala.foreach { e =>
        assert(RefAlias.alias(kind, e.getKey, keyB64, ns) == e.getValue.asText,
          s"kind=$kind orig=${e.getKey}")
      }
    }
  }

  test("reference-alias union scrub (phone/amount/id incl. JPY branch) matches") {
    val names = Vector("phone", "amount", "id")
    battery.zipWithIndex.foreach { case (s, i) =>
      val got = Scrub.scrubRef(s, keyB64, ns, names)
      assert(got == root.get("union_ref_all").get(i).asText, s"input=${s.take(60)}")
    }
  }
}
