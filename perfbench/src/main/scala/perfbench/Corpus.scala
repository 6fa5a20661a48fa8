package perfbench

import graft.core.{Perplexity, Quality}
import graft.spark.{DataGen, Page}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Workload corpora. Every row is a pure function of (workload, seed, row
  * index), so one seed always gives the same parquet input whatever the
  * partitioning. The engine only ever sees the parquet files. */
object Corpus {

  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** First `DataGen` page id of a workload's corpus: different workloads
    * and seeds draw different pages from the same generator. Below 2^30 so
    * `warc_ts` (derived from the id) stays a valid timestamp. */
  def idBase(workload: String, seed: Long): Long =
    splitmix64(seed * 0x9e3779b97f4a7c15L ^ workload.hashCode.toLong) >>> 34

  /** One adversarial doc family of the `hostile` workload. */
  final case class Adversarial(kind: String, count: Int, size: Int, what: String)

  /** Sized so that the quadratic email branch costs seconds per doc while
    * a run still fits its time budget: an `@` followed by a 12k-char
    * alphanumeric run takes 1.5 to 3 s to scrub on one core of a 4-core x86
    * host (the cost grows with the square of the run length). */
  val AdversarialDocs: Seq[Adversarial] = Seq(
    Adversarial("at_alnum_run", 1, 12000, "alphanumeric chars after an @"),
    Adversarial("many_at", 3, 5000, "consecutive @ chars"),
    Adversarial("long_line", 1, 1000000, "chars on a single line"),
    Adversarial("repeated_lines", 3, 10000, "copies of one line"))

  private val words = Vector("the", "river", "report", "morning", "library",
    "quiet", "street", "support", "orders", "data", "tables", "results", "of",
    "and", "a", "to", "in", "people", "group", "reader", "page", "evening")

  def adversarialText(a: Adversarial, rnd: java.util.Random): String = {
    val sb = new java.lang.StringBuilder(a.size + 64)
    a.kind match {
      case "at_alnum_run" =>
        val alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
        sb.append("Please write to a@b.co today. ")
        (0 until a.size).foreach(_ => sb.append(alnum.charAt(rnd.nextInt(alnum.length))))
      case "many_at" =>
        sb.append("Contact the team at ")
        (0 until a.size).foreach(_ => sb.append('@'))
        sb.append(" for details.")
      case "long_line" =>
        while (sb.length < a.size) sb.append(words(rnd.nextInt(words.size))).append(' ')
      case "repeated_lines" =>
        (0 until a.size).foreach(_ =>
          sb.append("The library opens at nine in the morning.\n"))
    }
    sb.toString
  }

  private def page(url: String, id: Long, text: String, lang: String): Page = {
    val escaped = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    Page(url, new java.sql.Timestamp(1704067200000L + id * 1000L),
      ("<html><body>" + escaped + "</body></html>").getBytes("UTF-8"), text, lang)
  }

  /** Row index → adversarial family for a corpus of `n` rows: the
    * adversarial docs sit at evenly spaced rows so they spread over the
    * input files, and so over tasks. */
  def adversarialRows(n: Long): Map[Long, Adversarial] = {
    val fams = AdversarialDocs.flatMap(a => Seq.fill(a.count)(a))
    fams.zipWithIndex.map { case (a, j) => ((j + 1L) * n / (fams.size + 1)) -> a }.toMap
  }

  def isAdversarialUrl(url: String): Boolean = url.startsWith("https://hostile-")

  /** The `DataGen` web mix, `n` rows; with `hostile`, the rows from
    * [[adversarialRows]] replaced by adversarial docs. */
  def webMix(spark: SparkSession, workload: String, seed: Long, n: Long,
             files: Int, hostile: Boolean): Dataset[Page] = {
    import spark.implicits._
    val base = idBase(workload, seed)
    val adv = if (hostile) adversarialRows(n) else Map.empty[Long, Adversarial]
    spark.range(0, n, 1, files).map { i =>
      adv.get(i) match {
        case Some(a) =>
          page(s"https://hostile-${a.kind}.example/p/${base + i}", base + i,
            adversarialText(a, new java.util.Random(splitmix64(base + i))), "en")
        case None => DataGen.pageFor(base + i)
      }
    }
  }

  /** Near-duplicate clusters for `curate`: cluster c has 1 + s/(c+1)
    * perturbed copies of one kept source page (Zipf sizes by rank). */
  final case class Clusters(sources: Array[Long], ends: Array[Long]) {
    def copies: Long = if (ends.isEmpty) 0L else ends.last
    def clusterOf(k: Long): Int = {
      val j = java.util.Arrays.binarySearch(ends, k + 1)
      if (j >= 0) j else -j - 1
    }
  }

  def clusters(base: Long, nBase: Long, seed: Long): Clusters = {
    val nClusters = math.max(1L, nBase / 10).toInt
    val s = nClusters / 2
    val rnd = new java.util.Random(splitmix64(seed ^ 0x5eedL))
    val sources = Array.tabulate(nClusters) { _ =>
      // first page at or after a random row that the quality rules keep and
      // that is long enough for near-duplicate shingles to be meaningful
      var i = (rnd.nextDouble() * nBase).toLong
      def ok(t: String) = t.length > 200 &&
        Quality.decide(Quality.metrics(t), Perplexity.default.perplexity(t))._1
      while (!ok(DataGen.pageFor(base + i).text)) i = (i + 1) % nBase
      i
    }
    val ends = Array.tabulate(nClusters)(c => 1L + s / (c + 1)).scanLeft(0L)(_ + _).tail
    Clusters(sources, ends)
  }

  private def perturb(text: String, rnd: java.util.Random): String = {
    val lines = text.split("\n").toBuffer
    rnd.nextInt(3) match {
      case 0 => // one word replaced
        val l = rnd.nextInt(lines.size)
        val ws = lines(l).split(" ")
        ws(rnd.nextInt(ws.length)) = words(rnd.nextInt(words.size))
        lines(l) = ws.mkString(" ")
      case 1 => lines += s"Shared by reader ${rnd.nextInt(100000)}."
      case _ => if (lines.size > 3) lines.remove(rnd.nextInt(lines.size))
    }
    lines.mkString("", "\n", "\n")
  }

  /** `curate` corpus: `nBase` web-mix pages followed by the perturbed
    * copies of [[clusters]]. */
  def nearDup(spark: SparkSession, seed: Long, nBase: Long, files: Int): (Dataset[Page], Clusters) = {
    import spark.implicits._
    val base = idBase("curate", seed)
    val cl = clusters(base, nBase, seed)
    val ds = spark.range(0, nBase + cl.copies, 1, files).map { i =>
      if (i < nBase) DataGen.pageFor(base + i)
      else {
        val k = i - nBase
        val c = cl.clusterOf(k)
        val src = DataGen.pageFor(base + cl.sources(c))
        val text = perturb(src.text, new java.util.Random(splitmix64(base ^ (k << 20))))
        page(s"https://mirror-${k % 97}.example/c/$c/$k", base + i, text, src.lang)
      }
    }
    (ds, cl)
  }
}
