package graft.core

/** A reusable window over a char array — the zero-allocation CharSequence
  * the fused hot path scores instead of a per-row String.
  *
  * Why: `UTF8String.toString` copies every document into a fresh
  * String (+ its value array) per row; at 32 threads × millions of rows the
  * allocation bandwidth of those copies is the single largest in-code cost
  * of the pipeline stage (BENCH.md, 8→32 scaling analysis). All core
  * scorers (langid, perplexity, quality metrics) read chars positionally,
  * and the PII scrub reads the backing array itself ([[array]]), so they
  * run directly over a thread-local decode buffer.
  *
  * NOT thread-safe and NOT stable across rows — consumers must finish with
  * a view before the thread decodes the next row (the fused stage does).
  */
final class CharsView extends CharSequence {
  private var a: Array[Char] = Array.emptyCharArray
  private var n: Int = 0

  def set(arr: Array[Char], len: Int): this.type = { a = arr; n = len; this }

  /** The backing array; its first [[length]] chars are the view. */
  private[core] def array: Array[Char] = a

  override def length: Int = n
  override def charAt(i: Int): Char = a(i)
  /** A String IS a CharSequence, so returning one directly skips an extra
    * wrapper. */
  override def subSequence(s: Int, e: Int): CharSequence = new String(a, s, e - s)
  override def toString: String = new String(a, 0, n)
}
