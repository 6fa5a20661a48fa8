package graft.core

/** KenLM-style character n-gram perplexity scorer (north-star quality stage).
  *
  * Order-3 character LM with interpolated add-k smoothing over a byte-class
  * alphabet (a-z, 0-9, space, other → 38 symbols). Trained once from an
  * embedded seed corpus; the resulting model is a flat `Array[Float]` of
  * conditional log-probs — compact (38^3 floats ≈ 220 KB), immutable and
  * cheaply broadcastable, mirroring how a real KenLM binary would be shipped
  * to executors (broadcast bytes + per-executor lazy decode).
  *
  * `perplexity(text)` = exp(-mean log P(c_i | c_{i-2} c_{i-1})). Lower is
  * more natural text; gibberish and symbol soup score high.
  */
final class PerplexityModel private[core] (logProb: Array[Float]) extends Serializable {
  import Perplexity._

  def perplexity(text: CharSequence): Double = {
    val lim = math.min(text.length, 8192)
    if (lim == 0) return MaxPpl
    var c2 = SpaceSym
    var c1 = SpaceSym
    var sum = 0.0
    var n = 0
    var i = 0
    while (i < lim) {
      val c0 = CharClass.sym(text.charAt(i))
      sum += logProb((c2 * A + c1) * A + c0)
      n += 1
      c2 = c1; c1 = c0
      i += 1
    }
    math.min(math.exp(-sum / n), MaxPpl)
  }

  def logProbArray: Array[Float] = logProb
}

object Perplexity {
  final val A = 38 // alphabet size: 26 letters + 10 digits + space + other
  final val SpaceSym = 36
  final val OtherSym = 37
  final val MaxPpl = 1e6

  def sym(c: Char): Int = {
    val lc = Character.toLowerCase(c)
    if (lc >= 'a' && lc <= 'z') lc - 'a'
    else if (lc >= '0' && lc <= '9') 26 + (lc - '0')
    else if (Character.isWhitespace(lc)) SpaceSym
    else OtherSym
  }

  /** Code-point variant (CPython-twin parity: Python iterates code points,
    * so an astral-plane character is ONE symbol event, not two surrogate
    * events). Every astral code point classifies as OtherSym — a-z, 0-9 and
    * all Java whitespace are BMP. */
  def symCp(cp: Int): Int = if (cp > 0xFFFF) OtherSym else sym(cp.toChar)

  /** Train from corpus text with add-k interpolation of orders 3/2/1. */
  def train(corpus: String, k: Double = 0.1): PerplexityModel = {
    val c3 = new Array[Long](A * A * A)
    var p2 = SpaceSym
    var p1 = SpaceSym
    corpus.foreach { ch =>
      val c0 = sym(ch)
      c3((p2 * A + p1) * A + c0) += 1
      p2 = p1; p1 = c0
    }
    fromCounts(c3, k)
  }

  /** Build the model from trigram counts alone. Bigram/unigram counts and
    * the total marginalize exactly from c3 (every char event increments all
    * three orders with the same target symbol), so a trainer only has to
    * aggregate the A^3 trigram cells — the shape the distributed trainer
    * ([[graft.spark.LmTrain]]) exploits: a bounded (gram, n) relation is
    * the entire sufficient statistic. */
  def fromCounts(c3: Array[Long], k: Double = 0.1): PerplexityModel = {
    require(c3.length == A * A * A, s"expected ${A * A * A} cells, got ${c3.length}")
    val c2 = new Array[Long](A * A)
    val c1 = new Array[Long](A)
    var total = 0L
    var i = 0
    while (i < c3.length) {
      val n = c3(i)
      if (n != 0) {
        c2(i % (A * A)) += n // idx = (p2*A + p1)*A + c0 → bigram = idx mod A^2
        c1(i % A) += n
        total += n
      }
      i += 1
    }
    val lp = new Array[Float](A * A * A)
    var i2 = 0
    while (i2 < A) {
      var i1 = 0
      while (i1 < A) {
        // context totals
        var ctx3 = 0L
        var c = 0
        while (c < A) { ctx3 += c3((i2 * A + i1) * A + c); c += 1 }
        var ctx2 = 0L
        c = 0
        while (c < A) { ctx2 += c2(i1 * A + c); c += 1 }
        c = 0
        while (c < A) {
          val p3 = (c3((i2 * A + i1) * A + c) + k) / (ctx3 + k * A)
          val p2u = (c2(i1 * A + c) + k) / (ctx2 + k * A)
          val p1u = (c1(c) + k) / (total + k * A)
          val p = 0.6 * p3 + 0.3 * p2u + 0.1 * p1u
          lp((i2 * A + i1) * A + c) = math.log(p).toFloat
          c += 1
        }
        i1 += 1
      }
      i2 += 1
    }
    new PerplexityModel(lp)
  }

  private val seedCorpus: String =
    ("the quick brown fox jumps over the lazy dog " +
      "a small group of people walked along the quiet street in the early morning " +
      "she opened the window and looked out at the garden where flowers grew " +
      "the report shows that most users read the first page and then move on " +
      "data processing systems read rows from tables filter them and write results " +
      "every year thousands of students learn to write clear and simple sentences " +
      "the weather today is warm with a light wind from the west and clear skies " +
      "please contact our support team if you have any questions about the order " +
      "the library opens at nine in the morning and closes at eight in the evening " +
      "he finished his work early and spent the afternoon reading a good book " +
      "the company plans to open three new offices in the next two years " +
      "water flows down the river past the old bridge and into the wide sea " +
      "children play in the park while their parents talk near the long benches " +
      "the meeting starts at ten and we expect it to last about one hour " +
      "numbers like 12345 and 2024 appear in normal text without breaking it ") * 2

  /** Runtime model = the committed binary artifact (GenModels regenerates
    * it from [[trainDefault]]); training stays available for rebuilds. */
  lazy val default: PerplexityModel =
    ModelIo.readPpl(ModelIo.resource("/graft/ppl_en.lm"))

  private[core] def trainDefault: PerplexityModel = train(seedCorpus)

  // CCNet-style per-language banks: production web pipelines score each
  // document with the LM of ITS language (one KenLM per lang in CCNet);
  // a single English LM over-penalizes clean es/de/fr prose. CJK languages
  // are not modeled — the byte-class alphabet collapses CJK to OtherSym,
  // so those docs keep the cjk-gated heuristic path instead.
  private val seedEs: String =
    ("el zorro marron salta sobre el perro perezoso cerca de la orilla del rio " +
      "la mayoria de los lectores revisan la primera pagina y luego siguen con su trabajo " +
      "nuestro equipo de soporte responde preguntas sobre pedidos cada dia " +
      "la biblioteca abre a las nueve de la manana y cierra a las ocho de la tarde " +
      "los ninos juegan en el parque mientras sus padres conversan en los bancos " +
      "el informe muestra que la empresa planea abrir tres oficinas nuevas " +
      "el agua baja por el rio pasa el puente viejo y llega hasta el ancho mar " +
      "cada ano miles de estudiantes aprenden a escribir frases claras y simples ") * 2

  private val seedDe: String =
    ("der braune fuchs springt uber den faulen hund am ufer des flusses " +
      "die meisten leser lesen die erste seite und wenden sich dann anderer arbeit zu " +
      "unser team beantwortet fragen zu bestellungen innerhalb eines tages " +
      "die bibliothek offnet um neun uhr morgens und schliesst um acht uhr abends " +
      "die kinder spielen im park wahrend die eltern auf den banken sprechen " +
      "der bericht zeigt dass das unternehmen drei neue buros eroffnen will " +
      "das wasser fliesst den fluss hinab an der alten brucke vorbei ins weite meer " +
      "jedes jahr lernen tausende studenten klare und einfache satze zu schreiben ") * 2

  private val seedFr: String =
    ("le renard brun saute par dessus le chien paresseux pres de la riviere " +
      "la plupart des lecteurs lisent la premiere page puis passent a autre chose " +
      "notre equipe repond aux questions sur les commandes chaque jour " +
      "la bibliotheque ouvre a neuf heures du matin et ferme a huit heures du soir " +
      "les enfants jouent dans le parc pendant que les parents parlent sur les bancs " +
      "le rapport montre que la societe prevoit d ouvrir trois nouveaux bureaux " +
      "l eau descend la riviere passe le vieux pont et rejoint la vaste mer " +
      "chaque annee des milliers d etudiants apprennent a ecrire des phrases claires ") * 2

  private[core] def trainBank: Map[String, PerplexityModel] = Map(
    "en" -> trainDefault, "es" -> train(seedEs), "de" -> train(seedDe),
    "fr" -> train(seedFr))

  /** Per-language models; unknown langs fall back to [[default]] (en). */
  lazy val bank: Map[String, PerplexityModel] = Map(
    "en" -> default,
    "es" -> ModelIo.readPpl(ModelIo.resource("/graft/ppl_es.lm")),
    "de" -> ModelIo.readPpl(ModelIo.resource("/graft/ppl_de.lm")),
    "fr" -> ModelIo.readPpl(ModelIo.resource("/graft/ppl_fr.lm")))

  def forLang(lang: String): PerplexityModel =
    bank.getOrElse(lang, default)
}
