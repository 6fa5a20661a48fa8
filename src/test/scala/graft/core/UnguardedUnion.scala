package graft.core

import java.util.regex.Pattern

/** The reference scan for the differential tests: the union of the
  * reference's regexes with email UNGUARDED (the CPython pattern string),
  * run by a plain `find()` loop with no trigger prefilter. Quadratic on long
  * local-part runs after an `@`, so keep its inputs short. */
object UnguardedUnion {

  private val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""

  private def source(name: String): String =
    if (name == "email") email else Patterns.pattern(name).pattern

  private val cache = new java.util.concurrent.ConcurrentHashMap[Seq[String], Pattern]()

  /** (pattern name, start, end) of every match, leftmost-first. */
  def spans(text: String, names: Seq[String]): Vector[(String, Int, Int)] = {
    if (names.isEmpty) return Vector.empty
    val p = cache.computeIfAbsent(names, ns =>
      Pattern.compile(ns.map("(" + source(_) + ")").mkString("|"),
        Pattern.UNICODE_CHARACTER_CLASS))
    val m = p.matcher(text)
    val out = Vector.newBuilder[(String, Int, Int)]
    while (m.find()) {
      var g = 1
      while (m.start(g) < 0) g += 1
      out += ((names(g - 1), m.start(), m.end()))
    }
    out.result()
  }

  /** The same triples from the engine's scan loop. */
  def engineSpans(text: String, names: Seq[String]): Vector[(String, Int, Int)] = {
    val prep = Scrub.prepared(names, Scrub.triggerMask(text))
    val out = Vector.newBuilder[(String, Int, Int)]
    Scrub.forEachHit(prep, text, (i, s, e) => out += ((prep.names(i), s, e)))
    out.result()
  }

  /** Scan orders the differential covers: both union orders, policy subsets
    * of them, and email alone (Detect's email scan). */
  val orders: Seq[Seq[String]] = Seq(
    Scrub.FullOrder,
    Scrub.ReferenceOrder,
    Scrub.filteredOrder(Scrub.FullOrder, "email,address"),
    Scrub.filteredOrder(Scrub.FullOrder, "email,phone,name"),
    Scrub.filteredOrder(Scrub.ReferenceOrder, "email,id"),
    Vector("email"))
}
