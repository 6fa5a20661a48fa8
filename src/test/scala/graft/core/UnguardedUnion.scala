package graft.core

import java.util.regex.Pattern

/** The reference scan for the differential tests: the union of the
  * reference's regexes (the [[Patterns]] source strings, email unguarded as
  * in CPython) compiled by `java.util.regex` with `UNICODE_CHARACTER_CLASS`,
  * run by a plain `find()` loop with no trigger prefilter. Quadratic on long
  * local-part runs after an `@`, so keep its inputs short. */
object UnguardedUnion {

  /** One pattern compiled from its source string. */
  def compiled(name: String): Pattern =
    Pattern.compile(Patterns.regex(name), Pattern.UNICODE_CHARACTER_CLASS)

  private val cache = new java.util.concurrent.ConcurrentHashMap[Seq[String], Pattern]()

  /** (pattern name, start, end) of every match, leftmost-first. */
  def spans(text: String, names: Seq[String]): Vector[(String, Int, Int)] = {
    if (names.isEmpty) return Vector.empty
    val p = cache.computeIfAbsent(names, ns =>
      Pattern.compile(ns.map("(" + Patterns.regex(_) + ")").mkString("|"),
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
    val out = Vector.newBuilder[(String, Int, Int)]
    Scrub.forEachHit(text, names, (p, s, e) => out += ((Scrub.FullOrder(p), s, e)))
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
