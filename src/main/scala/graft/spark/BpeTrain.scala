package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE merge-rule training over a corpus — the tokenizer-training stage of
  * a data pipeline (the q_bpe_tokens regex is the SEGMENTER twin; this
  * learns the merge table itself).
  *
  * Scale shape, which is how production tokenizer training actually runs
  * (HF tokenizers / sentencepiece): the CORPUS-sized work — tokenize +
  * word-frequency aggregation — is distributed (one explode + hash-agg
  * with map-side combine over any number of documents); the merge loop
  * then runs single-node over the WORD-FREQUENCY DICT, which is vocabulary
  * -sized (≈10^5–10^7 types for web text), not corpus-sized. The collect
  * is capped BEFORE it runs (`limit(maxTypes + 1)` — at most one excess
  * row crosses to the driver, then the bound throws; no silent cap and no
  * unbounded materialization), and `minCount` prunes the hapax tail that
  * merge counting cannot use anyway.
  *
  * Deterministic: ties on pair frequency break lexicographically, so the
  * learned merge table is byte-reproducible (CPython twin in
  * tools/gen_expected.py).
  */
object BpeTrain {

  /** Distributed word-frequency dict: lowercase whitespace tokens
    * (the shared `Quality.tokens` Spark expression). */
  def wordCounts(df: DataFrame, textCol: String, minCount: Long = 2L): DataFrame =
    df.select(explode(PiiFunctions.tokensCol(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)

  /** Word → symbol sequence: one symbol per CODE POINT (a supplementary
    * char must stay one symbol — splitting surrogates would learn invalid
    * half-char merges and diverge from the code-point-based twin). */
  private[spark] def symbols(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Classic BPE merge learning over a word-frequency dict: every word is
    * a symbol sequence + an end-of-word sentinel; each round merges the
    * most frequent adjacent symbol pair (count desc, then pair
    * lexicographic). Returns (rank, left, right, freq).
    *
    * Incremental (how HF tokenizers runs the same loop): pair counts and a
    * pair→words index are built once; each round selects the best pair in
    * one O(distinct pairs) scan and rewrites ONLY the words containing it,
    * updating counts by word-local deltas — no full-dict recount per
    * round. Selection by total order (count desc, pair lexicographic) is
    * iteration-order independent, so results are identical to the naive
    * recount form (the CPython twin). */
  def learnMerges(wordFreq: Seq[(String, Long)],
                  numMerges: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val Eow = "</w>"
    val words: Array[(Array[String], Long)] = wordFreq.map { case (w, n) =>
      (symbols(w) :+ Eow, n)
    }.toArray
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]

    def addWord(idx: Int, syms: Array[String], n: Long): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts.update(k, counts.getOrElse(k, 0L) + n)
        where.getOrElseUpdate(k, mutable.HashSet.empty) += idx
        i += 1
      }
    }
    def removeWord(idx: Int, syms: Array[String], n: Long): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        val left = counts(k) - n
        if (left == 0L) { counts.remove(k); where.remove(k) }
        else {
          counts.update(k, left)
          where(k) -= idx
        }
        i += 1
      }
    }

    words.zipWithIndex.foreach { case ((syms, n), idx) => addWord(idx, syms, n) }

    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    while (rank < numMerges && counts.nonEmpty) {
      val ((l, r), freq) = counts.minBy { case ((a, b), n) => (-n, a, b) }
      out += ((rank, l, r, freq))
      val merged = l + r
      // snapshot: updating the index while rewriting mutates `where`
      val affected = where((l, r)).toArray
      java.util.Arrays.sort(affected) // determinism of count arithmetic order
      affected.foreach { idx =>
        val (syms, n) = words(idx)
        removeWord(idx, syms, n)
        val b = Array.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            b += merged; i += 2
          } else { b += syms(i); i += 1 }
        }
        val next = b.result()
        words(idx) = (next, n)
        addWord(idx, next, n)
      }
      rank += 1
    }
    out.result()
  }

  /** Encode one word with a learned merge table (rank map): repeatedly
    * merge the LOWEST-rank adjacent pair present, all occurrences left to
    * right — standard BPE apply (HF tokenizers / Sennrich), deterministic.
    */
  def encodeWord(w: String, ranks: Map[(String, String), Int]): Array[String] = {
    var syms = symbols(w) :+ "</w>"
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val rk = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (rk < bestRank) { bestRank = rk; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        val l = syms(bi)
        val r = syms(bi + 1)
        val merged = l + r
        val b = Array.newBuilder[String]
        i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            b += merged; i += 2
          } else { b += syms(i); i += 1 }
        }
        syms = b.result()
      }
    }
    syms
  }

  /** Distributed dict → driver merge loop → merge table as a driver-side
    * Seq (rank order). */
  def trainMerges(df: DataFrame, textCol: String, numMerges: Int,
                  minCount: Long = 2L,
                  maxTypes: Int = 1000000): Seq[(Int, String, String, Long)] =
    trainMergesFromCounts(wordCounts(df, textCol, minCount), numMerges, maxTypes)

  /** [[trainMerges]] over an ALREADY computed (w, n) word-frequency dict —
    * lets a caller that also needs the dict for encoding share ONE corpus
    * tokenization pass. Same bounded collect, same canonical sort, so the
    * merge table is identical. */
  def trainMergesFromCounts(wc: DataFrame, numMerges: Int,
                            maxTypes: Int = 1000000): Seq[(Int, String, String, Long)] = {
    // cap the transfer BEFORE collecting: at most maxTypes+1 rows reach
    // the driver, so the bound fires as an exception, not an OOM
    val types = wc.limit(maxTypes + 1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(types.length <= maxTypes,
      s"word dict exceeds maxTypes=$maxTypes — raise the bound or " +
        "minCount (the merge loop is driver-side over the dict)")
    // collect order is partition-dependent; the loop's tie-break makes the
    // result order-independent, but sort anyway so the input is canonical
    val dict = types.sortBy(t => (t._1, t._2)).toSeq
    learnMerges(dict, numMerges)
  }

  /** Corpus-wide BPE token frequencies from a FULL word-frequency dict
    * (minCount = 1 — every occurrence must be represented): each DISTINCT
    * word is encoded once and contributes its tokens weighted by its
    * count, so `count(token) = Σ_w n_w · occurrences(token, encode(w))` —
    * the per-occurrence count of encoding every corpus word, with the
    * explode + shuffle VOCABULARY-sized instead of corpus-sized, and the
    * encode UDF run once per distinct word (Zipf repetition handled by
    * arithmetic instead of a memo cache). */
  def encodeCountsFromWordCounts(wordFreq: DataFrame,
                                 merges: Seq[(String, String)]): DataFrame = {
    val ranks = merges.zipWithIndex.toMap
    val b = wordFreq.sparkSession.sparkContext.broadcast(ranks)
    val encodeUdf = udf { w: String => encodeWord(w, b.value) }
    wordFreq.select(explode(encodeUdf(col("w"))).as("token"), col("n"))
      .groupBy(col("token")).agg(sum(col("n")).as("n"))
  }

  /** End-to-end: merge table as a relation (driver-contract face). */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            minCount: Long = 2L, maxTypes: Int = 1000000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    trainMerges(df, textCol, numMerges, minCount, maxTypes)
      .toDF("rank", "left", "right", "freq")
  }
}
