package graft.core

/** Minimal open-addressing Long set (linear probing, power-of-2 capacity).
  * Exists so per-document distinct-token/line counting allocates one flat
  * array instead of boxing every token into a String + HashSet node — the
  * quality stage runs on every row of a 10^12-document corpus. */
final class LongHashSet(initialCapacity: Int = 64) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
  private var mask = cap - 1
  private var table = new Array[Long](cap)
  // table index of every non-zero key, in insertion order, so clear()
  // zeroes just those: O(entries), not O(capacity)
  private var slots = slotsFor(cap)
  private var used = 0
  private var hasZero = false

  def size: Int = used + (if (hasZero) 1 else 0)

  /** Reset for reuse without releasing the table (scratch-buffer pattern —
    * the quality scan runs per row and would otherwise allocate two tables
    * per document). */
  def clear(): Unit = {
    // don't let one pathological document pin a huge table on the thread
    if (cap > 8192) {
      cap = 8192
      mask = cap - 1
      table = new Array[Long](cap)
      slots = slotsFor(cap)
    } else {
      var i = 0
      while (i < used) { table(slots(i)) = 0L; i += 1 }
    }
    used = 0
    hasZero = false
  }

  /** Returns true if newly added. */
  def add(key0: Long): Boolean = {
    if (key0 == 0L) {
      val fresh = !hasZero
      hasZero = true
      return fresh
    }
    if (used * 10 >= cap * 7) grow()
    var i = (mix(key0) & mask).toInt
    while (true) {
      val k = table(i)
      if (k == 0L) { table(i) = key0; slots(used) = i; used += 1; return true }
      if (k == key0) return false
      i = (i + 1) & mask
    }
    false
  }

  def contains(key0: Long): Boolean = {
    if (key0 == 0L) return hasZero
    var i = (mix(key0) & mask).toInt
    while (true) {
      val k = table(i)
      if (k == 0L) return false
      if (k == key0) return true
      i = (i + 1) & mask
    }
    false
  }

  /** Room for every entry below the 0.7 load bound add() grows at. */
  private def slotsFor(c: Int): Array[Int] = new Array[Int](c * 7 / 10 + 1)

  private def mix(x0: Long): Long = {
    var x = x0 * 0xbf58476d1ce4e5b9L
    x ^= x >>> 32
    x
  }

  private def grow(): Unit = {
    val old = table
    cap <<= 1
    mask = cap - 1
    table = new Array[Long](cap)
    slots = slotsFor(cap)
    used = 0
    old.foreach(k => if (k != 0L) add(k))
  }
}
