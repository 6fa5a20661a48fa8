package graft.core

import scala.util.hashing.MurmurHash3

/** Pure dedup / similarity math: shingles, MinHash, SimHash, rolling-hash
  * fingerprints. All hashing is seeded MurmurHash3 (JVM-stable, platform
  * independent) so results are deterministic across executors and runs.
  *
  * The Spark layer turns these into distributed operators (LSH band-bucket
  * joins, hamming-neighbor joins); the math here is single-document and
  * allocation-light so it stays cheap inside codegen'd UDF calls.
  */
object TextDedup {

  /** Word k-shingles over whitespace tokens. */
  def shingles(text: String, k: Int): Array[String] = {
    val toks = Quality.tokens(text)
    if (toks.length < k) {
      if (toks.isEmpty) Array.empty else Array(toks.mkString(" "))
    } else
      Array.tabulate(toks.length - k + 1)(i => toks.slice(i, i + k).mkString(" "))
  }

  /** Exact Jaccard over shingle sets (test oracle for the approximate paths). */
  def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = a.toSet
    val sb = b.toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else (sa & sb).size.toDouble / (sa | sb).size
  }

  // deterministic odd multipliers/offsets for the universal-hash family
  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private val HashA: Array[Long] = Array.tabulate(256)(i => splitmix(i.toLong * 2 + 1) | 1L)
  private val HashB: Array[Long] = Array.tabulate(256)(i => splitmix(0x5151L + i))

  /** MinHash signature via universal hashing: ONE 64-bit string hash per
    * shingle, then `numHashes` cheap (a_i·h + b_i) permutations — versus
    * murmur-ing every shingle string numHashes times (~50× less string
    * traversal). Empty docs get a sentinel signature (Int.MaxValue). */
  // per-thread scratch for minHash shingle dedup (same pattern as the
  // quality scan's reused tables — no per-document allocation)
  private val mhSeen =
    ThreadLocal.withInitial[LongHashSet](() => new LongHashSet(256))

  def minHash(text: String, k: Int, numHashes: Int): Array[Int] = {
    require(numHashes <= 256, "extend HashA/HashB for more hash functions")
    val sig = Array.fill(numHashes)(Int.MaxValue)
    val seen = mhSeen.get()
    seen.clear()
    shingles(text, k).foreach { s =>
      val h = hash64(s)
      // a REPEATED shingle hash contributes the identical numHashes
      // candidate values (they depend only on h), so skipping it cannot
      // change any minimum — signatures are bit-identical, and the inner
      // loop runs once per DISTINCT shingle instead of once per occurrence
      // (repetitive docs are exactly the ones dedup exists for)
      if (seen.add(h)) {
        var i = 0
        while (i < numHashes) {
          val v = (HashA(i) * h + HashB(i)) >>> 32
          if (v.toInt < sig(i)) sig(i) = v.toInt
          i += 1
        }
      }
    }
    sig
  }

  /** LSH band keys: signature split into `bands` contiguous row groups, each
    * hashed to one bucket key. Docs sharing ANY band key are candidates. */
  def bandKeys(sig: Array[Int], bands: Int): Array[Long] = {
    val rows = sig.length / bands
    Array.tabulate(bands) { b =>
      val h = MurmurHash3.arrayHash(sig.slice(b * rows, (b + 1) * rows), b)
      (b.toLong << 32) | (h.toLong & 0xffffffffL)
    }
  }

  /** Estimated Jaccard from two signatures. */
  def sigSimilarity(a: Array[Int], b: Array[Int]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** 64-bit SimHash over word unigrams (unweighted votes). */
  def simHash(text: String): Long = {
    val votes = new Array[Int](64)
    Quality.tokens(text).foreach { t =>
      val h = hash64(t)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) != 0L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Stable 64-bit hash from two seeded murmur32s. */
  def hash64(s: String): Long = {
    val h1 = MurmurHash3.stringHash(s, 0x9747b28c)
    val h2 = MurmurHash3.stringHash(s, 0x85ebca6b)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Polynomial rolling-hash fingerprint of the normalized document (lowercase,
    * whitespace runs folded, per char as `Character.toLowerCase` and
    * `isWhitespace` read it, via [[CharClass]]) — the "document
    * fingerprinting" primitive. */
  def fingerprint(text: String): Long = {
    var h = 1125899906842597L
    var lastSpace = true
    var i = 0
    while (i < text.length) {
      val c0 = CharClass.toLower(text.charAt(i))
      val ws = CharClass.isWhitespace(c0)
      if (!ws) { h = h * 31 + c0; lastSpace = false }
      else if (!lastSpace) { h = h * 31 + ' '; lastSpace = true }
      i += 1
    }
    h
  }
}
