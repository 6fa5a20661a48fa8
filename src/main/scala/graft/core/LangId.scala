package graft.core

/** fastText-style character-n-gram language identification.
  *
  * Not in the reference service (it is langid-free); mandated by the
  * north-star pipeline: "fastText-style character-n-gram language ID". This
  * is a from-scratch multinomial model over character 1–3-grams with add-one
  * smoothing, trained at first use from a small embedded seed corpus — the
  * same shape as a fastText supervised model (bag of char n-grams → linear
  * scores) minus the learned embeddings, which keeps it dependency-free and
  * deterministic.
  *
  * The trained model is an immutable, java-serializable value: broadcast it
  * once per job and share across executors (the Spark layer does this),
  * mirroring the reference's `lru_cache` model pattern (app/detectors.py:64).
  */
final case class LangIdModel(
    langs: Vector[String],
    // sorted packed-gram keys (16 bits/char, length tag in bits 48+) with
    // per-lang log-prob rows laid out flat — zero boxing, trivially
    // java-serializable for broadcast; classify reads them through the
    // per-JVM lookup tables below
    gramKeys: Array[Long],
    gramLogProbs: Array[Double], // gramKeys.length × langs.length, row-major
    defaultLogProb: Array[Double]
) extends Serializable {

  // open-address table of the gram keys, rebuilt lazily per JVM after
  // broadcast deserialization: slot i holds a key at 2i and its row offset
  // (row × |langs|) at 2i+1, so a probe reads one cache line; an empty slot
  // holds key 0 (no gram packs to 0) and the offset of the default row. At
  // most 1/8 of the slots are full, so the probe for an unseen gram (most
  // 3-grams) mostly ends at its first slot.
  @transient private lazy val (gramSlots, gramMask) = {
    var cap = Integer.highestOneBit(gramKeys.length * 8 - 1) << 1
    if (cap < 16) cap = 16
    val mask = cap - 1
    val slots = new Array[Long](2 * cap)
    val nl = langs.length.toLong
    var i = 0
    while (i < cap) { slots(2 * i + 1) = defaultRow * nl; i += 1 }
    var r = 0
    while (r < gramKeys.length) {
      i = (mixHash(gramKeys(r)) & mask).toInt
      while (slots(2 * i) != 0L) i = (i + 1) & mask
      slots(2 * i) = gramKeys(r)
      slots(2 * i + 1) = r * nl
      r += 1
    }
    (slots, mask.toLong)
  }

  private def mixHash(x0: Long): Long = {
    var x = x0 * 0xbf58476d1ce4e5b9L
    x ^= x >>> 32
    x
  }

  /** Row of the unseen-gram default in [[rows]]. */
  private def defaultRow: Int = gramKeys.length

  // gram rows with the default row appended: every gram, seen or not,
  // adds one row of `rows`, so the summing loop has no branch on a hit/miss
  // pattern it cannot predict (costs one copy of the log-probs per JVM)
  @transient private lazy val rows: Array[Double] = gramLogProbs ++ defaultLogProb

  /** Row offset of `key` in `slots`, or of [[defaultRow]]. The first slot
    * of a key's probe sequence wins, so among equal keys the lowest row. */
  private def offsetOf(slots: Array[Long], mask: Long, key: Long): Int = {
    var i = (mixHash(key) & mask).toInt
    while (true) {
      val k = slots(2 * i)
      if (k == key || k == 0L) return slots(2 * i + 1).toInt
      i = ((i + 1) & mask).toInt
    }
    0
  }

  // unigram rows by char: one load instead of a hash probe. The lowest row
  // of a key wins, as in the probe order of gramSlots.
  @transient private lazy val uniRow: Array[Int] = {
    val table = Array.fill(65536)(defaultRow)
    var r = gramKeys.length - 1
    while (r >= 0) {
      val key = gramKeys(r)
      if ((key & ~0xFFFFL) == (1L << 48)) table((key & 0xFFFF).toInt) = r
      r -= 1
    }
    table
  }

  /** Per-language sums of the rows at offsets `offs(0 until n)`, each in
    * that order. Four languages share a pass, in four independent chains
    * of adds held in locals; a language's sum is the same sequence of adds
    * whichever pass computes it. */
  private def sums(offs: Array[Int], n: Int): Array[Double] = {
    val nl = langs.length
    val rs = rows
    val scores = new Array[Double](nl)
    var b = 0
    while (b + 4 <= nl) {
      var s0, s1, s2, s3 = 0.0
      var g = 0
      while (g < n) {
        val o = offs(g) + b
        s0 += rs(o); s1 += rs(o + 1); s2 += rs(o + 2); s3 += rs(o + 3)
        g += 1
      }
      scores(b) = s0; scores(b + 1) = s1; scores(b + 2) = s2; scores(b + 3) = s3
      b += 4
    }
    while (b < nl) {
      var s0 = 0.0
      var g = 0
      while (g < n) { s0 += rs(offs(g) + b); g += 1 }
      scores(b) = s0
      b += 1
    }
    scores
  }

  /** (bestLang, confidence in [0,1]) — confidence is the softmax weight of
    * the winning language over the candidate set. Allocation-free per call
    * but for the score array (|langs| doubles): the normalized prefix and
    * its gram rows live in per-thread reused buffers.
    *
    * Per position the 1-, 2- and 3-gram keys are built by adding the next
    * char to the shorter key; unigrams are looked up in a per-char row
    * table, 2- and 3-grams in the open-address key table. Each language's score
    * sums its log-probs in a fixed order (position, then gram length 1, 2,
    * 3; unseen grams add the default), so the result is bit-for-bit
    * reproducible. */
  def classify(text: CharSequence): (String, Double) = {
    val nl = langs.length
    val scratch = LangId.scratch.get()
    val t = scratch.chars
    val len = LangId.normalize(text, t)
    val offs = scratch.offs
    val uni = uniRow
    val slots = gramSlots
    val mask = gramMask
    var n = 0
    var pos = 0
    while (pos < len) {
      val c0 = t(pos)
      offs(n) = uni(c0) * nl
      n += 1
      if (pos + 1 < len) {
        val k2 = c0.toLong | (t(pos + 1).toLong << 16)
        offs(n) = offsetOf(slots, mask, (2L << 48) | k2)
        n += 1
        if (pos + 2 < len) {
          offs(n) = offsetOf(slots, mask, (3L << 48) | k2 | (t(pos + 2).toLong << 32))
          n += 1
        }
      }
      pos += 1
    }
    if (n == 0) return ("und", 0.0)
    val scores = sums(offs, n)
    // softmax over mean log-probs (length-normalized so confidence is
    // comparable across document lengths)
    var best = 0
    var i = 1
    while (i < nl) { if (scores(i) > scores(best)) best = i; i += 1 }
    val mx = scores(best) / n
    var z = 0.0
    i = 0
    while (i < nl) { z += math.exp(scores(i) / n - mx); i += 1 }
    (langs(best), 1.0 / z)
  }
}

object LangId {

  /** Char 1/2/3-grams over a normalized view (lowercase, whitespace folded).
    * String-keyed variant used at TRAIN time only; classification walks the
    * packed-Long keys directly. */
  def grams(text: String): Iterator[String] = {
    val buf = scratch.get().chars
    val t = new String(buf, 0, normalize(text, buf))
    if (t.isEmpty) Iterator.empty
    else (1 to 3).iterator.flatMap(k => t.sliding(k).filter(_.length == k))
  }

  private[graft] def packed(g: String): Long = {
    var key = g.length.toLong << 48
    var j = 0
    while (j < g.length) { key |= g.charAt(j).toLong << (j * 16); j += 1 }
    key
  }

  /** Per-thread buffers of [[LangIdModel.classify]], reused per row: the
    * normalized prefix (4096 chars + 2 sentinels) and the row offsets of
    * its grams (3 per char). */
  private[core] final class Scratch {
    val chars = new Array[Char](4098)
    val offs = new Array[Int](3 * 4098)
  }

  private[core] val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Lowercase (`Character.toLowerCase` per char) and fold whitespace runs
    * (`Character.isWhitespace`) to one space, with a sentinel space at each
    * end, over a 4096-char prefix; both tests are [[CharClass]] loads.
    * Writes the result to `buf` and returns its length. */
  private[core] def normalize(text: CharSequence, buf: Array[Char]): Int = {
    var n = 0
    buf(n) = ' '; n += 1
    var i = 0
    var lastSpace = true
    val lim = math.min(text.length, 4096) // langid needs a prefix, not the doc
    while (i < lim) {
      val c = CharClass.toLower(text.charAt(i))
      val ws = CharClass.isWhitespace(c)
      if (!ws) { buf(n) = c; n += 1; lastSpace = false }
      else if (!lastSpace) { buf(n) = ' '; n += 1; lastSpace = true }
      i += 1
    }
    buf(n) = ' '; n += 1
    n
  }

  /** Embedded seed corpus (own prose, a few hundred chars per language). */
  private val seedCorpus: Vector[(String, String)] = Vector(
    "en" -> ("the quick brown fox jumps over the lazy dog and the small table " +
      "holds a fresh cup of water while children read their books in the quiet " +
      "room this is a simple english sentence with common words that appear in " +
      "everyday writing such as house street morning work people time year way " +
      "day thing world life hand part place week case point group number fact"),
    "es" -> ("el rapido zorro marron salta sobre el perro perezoso y la mesa " +
      "pequena tiene una taza de agua fresca mientras los ninos leen sus libros " +
      "en la habitacion tranquila esta es una frase sencilla en espanol con " +
      "palabras comunes que aparecen cada dia como casa calle manana trabajo " +
      "gente tiempo ano camino dia cosa mundo vida mano parte lugar semana caso"),
    "de" -> ("der schnelle braune fuchs springt uber den faulen hund und der " +
      "kleine tisch tragt eine frische tasse wasser wahrend die kinder ihre " +
      "bucher im ruhigen zimmer lesen dies ist ein einfacher deutscher satz mit " +
      "haufigen wortern wie haus strasse morgen arbeit leute zeit jahr weg tag " +
      "ding welt leben hand teil ort woche fall punkt gruppe zahl sache frage"),
    "fr" -> ("le rapide renard brun saute par dessus le chien paresseux et la " +
      "petite table porte une tasse d eau fraiche pendant que les enfants " +
      "lisent leurs livres dans la piece calme ceci est une phrase simple en " +
      "francais avec des mots courants comme maison rue matin travail gens " +
      "temps annee chemin jour chose monde vie main partie lieu semaine cas"),
    "it" -> ("la rapida volpe marrone salta sopra il cane pigro e il piccolo " +
      "tavolo porta una tazza di acqua fresca mentre i bambini leggono i loro " +
      "libri nella stanza tranquilla questa e una frase semplice in italiano " +
      "con parole comuni come casa strada mattina lavoro gente tempo anno via " +
      "giorno cosa mondo vita mano parte luogo settimana caso punto gruppo"),
    "pt" -> ("a rapida raposa marrom pula sobre o cachorro preguicoso e a " +
      "pequena mesa carrega uma xicara de agua fresca enquanto as criancas " +
      "leem seus livros no quarto tranquilo esta e uma frase simples em " +
      "portugues com palavras comuns como casa rua manha trabalho pessoas " +
      "tempo ano caminho dia coisa mundo vida mao parte lugar semana caso"),
    "ja" -> ("速い茶色の狐はのろまな犬を飛び越えます そして小さな机の上には新しい水の" +
      "入った茶碗があります 子供たちは静かな部屋で本を読んでいます これは日本語の" +
      "簡単な文です 家 道 朝 仕事 人々 時間 年 方法 日 こと 世界 生活 手 部分 場所 " +
      "週 場合 点 数 グループ 事実 です ます した から まで など という ことが あります"),
    "zh" -> ("敏捷的棕色狐狸跳过了懒惰的狗 小桌子上放着一杯新鲜的水 孩子们在安静的" +
      "房间里读书 这是一个简单的中文句子 包含常见的词语 例如 房子 街道 早晨 工作 " +
      "人们 时间 年 方法 天 事情 世界 生活 手 部分 地方 星期 情况 点 数字 组 事实 " +
      "的 了 是 在 有 我们 他们 这个 那个 可以 没有 就是 因为 所以 但是 如果")
  )

  /** Runtime model = the committed binary artifact (GenModels regenerates
    * it from [[trainDefault]]); training stays available for rebuilds. */
  lazy val default: LangIdModel =
    ModelIo.readLangId(ModelIo.resource("/graft/langid.bin"))

  private[core] def trainDefault: LangIdModel = train(seedCorpus)

  /** One model per language of `corpus`, in corpus order, from the gram
    * counts of its texts. */
  def train(corpus: Vector[(String, String)]): LangIdModel = {
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    corpus.foreach { case (lang, text) =>
      grams(text).foreach(g => counts((lang, g)) = counts.getOrElse((lang, g), 0L) + 1L)
    }
    fromCounts(corpus.map(_._1).distinct,
      counts.iterator.map { case ((l, g), n) => (l, g, n) }.toSeq)
  }

  /** Model assembly from the (lang, gram, n) counts relation, languages in
    * the order of `langs`: add-one smoothing over the union vocabulary,
    * packed-key sorted layout. Every row's language must be in `langs`. */
  def fromCounts(langs: Seq[String], rows: Seq[(String, String, Long)]): LangIdModel = {
    val li = langs.zipWithIndex.toMap
    val counts = langs.map(_ => scala.collection.mutable.HashMap.empty[String, Long]).toArray
    val totals = new Array[Long](langs.length)
    rows.foreach { case (lang, gram, n) =>
      val i = li(lang)
      counts(i).update(gram, counts(i).getOrElse(gram, 0L) + n)
      totals(i) += n
    }
    val vocab = counts.iterator.flatMap(_.keysIterator).toSet
    val v = vocab.size + 1
    val sorted = vocab.toArray.map(g => packed(g) -> g).sortBy(_._1)
    val keys = sorted.map(_._1)
    val flat = new Array[Double](keys.length * langs.length)
    sorted.zipWithIndex.foreach { case ((_, g), row) =>
      var i = 0
      while (i < langs.length) {
        flat(row * langs.length + i) =
          math.log((counts(i).getOrElse(g, 0L) + 1.0) / (totals(i) + v))
        i += 1
      }
    }
    val dflt = new Array[Double](langs.length)
    var i = 0
    while (i < langs.length) { dflt(i) = math.log(1.0 / (totals(i) + v)); i += 1 }
    LangIdModel(langs.toVector, keys, flat, dflt)
  }
}
