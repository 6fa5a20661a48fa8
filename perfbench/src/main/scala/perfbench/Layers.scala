package perfbench

import graft.core.{CharsView, LangId, Perplexity, Quality, Scrub}
import graft.spark.{NerSlot, Pipeline}
import graft.spark.expressions.GraftExtensions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer probes of the traced run. Each drives one module's public
  * entry point over the workload's own corpus and is wrapped in a span. */
object Layers {

  type Metric = (String, Double, String)

  def policiesCsv(conf: Pipeline.Conf): String = conf.policies.toSeq.sorted.mkString(",")

  /** Pattern list the scrub unions for a mode (see `Scrub.scrubWithModeRaw`). */
  def scrubNames(conf: Pipeline.Conf): Seq[String] =
    Scrub.filteredOrder(
      if (conf.scrubMode == "ref") Scrub.ReferenceOrder else Scrub.FullOrder,
      policiesCsv(conf))

  /** L0: one single-threaded pass per public kernel over every doc given,
    * on the same `CharsView` form the fused expression hands them. */
  def core(texts: Array[String], conf: Pipeline.Conf): Seq[Metric] = {
    val n = texts.length
    val views = texts.map(t => new CharsView().set(t.toCharArray, t.length))
    val docNs = new Array[Long](n)
    val pol = policiesCsv(conf)
    val names = scrubNames(conf)
    // `summed` kernels are the fused stage's own calls; trigger and union
    // run again inside the scrub, so they are reported but not summed.
    // Each kernel first runs untimed over a few hundred docs: the fused
    // stage never calls some of them (union, NER below ENHANCED), and they
    // would otherwise be timed while the JIT compiles them.
    def pass(kernel: String, summed: Boolean)(f: CharsView => Boolean): (Double, Int) = {
      views.iterator.take(500).foreach(f)
      Trace.span(s"core.$kernel", "graft.core") {
        var total = 0L
        var hits = 0
        var i = 0
        while (i < n) {
          val t0 = System.nanoTime()
          if (f(views(i))) hits += 1
          val d = System.nanoTime() - t0
          if (summed) docNs(i) += d
          total += d
          i += 1
        }
        (total.toDouble / math.max(n, 1), hits)
      }
    }
    val (langid, _) = pass("langid", summed = true) { v => LangId.default.classify(v); false }
    val (ppl, _) = pass("ppl", summed = true) { v => Perplexity.default.perplexity(v); false }
    val (quality, _) = pass("quality", summed = true) { v => Quality.metrics(v); false }
    val (trigger, triggered) = pass("trigger", summed = false)(v =>
      Scrub.triggered(v, names).nonEmpty)
    val (union, useful) = pass("union", summed = false)(v => Scrub.unionHits(v, names).nonEmpty)
    val (scrub, _) = pass("scrub", summed = true) { v =>
      Scrub.scrubWithModeRaw(conf.scrubMode, v, conf.keyB64, conf.ns, pol); false
    }
    // the NER automaton runs in the fused stage only at an ENHANCED level
    val (ner, _) = pass("ner", summed = conf.modelNer) { v =>
      NerSlot.defaultModel.hitsOf(v); false
    }
    val sum = langid + ppl + quality + scrub + (if (conf.modelNer) ner else 0.0)
    val sorted = docNs.sorted
    val bytes = texts.iterator.map(_.getBytes("UTF-8").length.toLong).sum
    Seq(
      ("core.langid_ns", langid, "ns/doc"),
      ("core.ppl_ns", ppl, "ns/doc"),
      ("core.quality_ns", quality, "ns/doc"),
      ("core.trigger_ns", trigger, "ns/doc"),
      ("core.union_ns", union, "ns/doc"),
      ("core.scrub_ns", scrub, "ns/doc"),
      ("core.ner_ns", ner, "ns/doc"),
      ("core.sum_ns", sum, "ns/doc"),
      ("core.mb_per_s", bytes / 1e6 / (docNs.sum / 1e9), "MB/s"),
      ("core.doc_max_ms", sorted.last / 1e6, "ms"),
      ("core.doc_p99_us", sorted(((n - 1) * 0.99).toInt) / 1e3, "us"),
      ("core.trigger_pass_frac", triggered.toDouble / n, "ratio"),
      ("core.scrub_useful_frac", useful.toDouble / math.max(triggered, 1), "ratio"))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Parquet files as a single partition: one task, i.e. one slot busy. */
  def oneSlot(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.parquet(files: _*).coalesce(1)

  def pageStagesCol(conf: Pipeline.Conf): org.apache.spark.sql.Column =
    call_function("page_stages", col("text"), lit(conf.scrubMode), lit(conf.keyB64),
      lit(conf.ns), lit(policiesCsv(conf)), lit(conf.modelNer.toString))

  /** L1 and L2 at one slot: scan alone, `page_stages` alone and the full
    * `Pipeline.run`, each to noop, in interleaved rounds (medians: one pass
    * each is exposed to a noisy host); `coreSumNs` closes the
    * reconciliation. */
  def spark1(spark: SparkSession, corpus: Seq[String], docs: Long, conf: Pipeline.Conf,
             coreSumNs: Double, rounds: Int): Seq[Metric] = {
    def nsPerDoc(name: String, layer: String)(f: => Unit): Double =
      Trace.span(name, layer)(Rep.timed(f)._2) * 1e9 / docs
    GraftExtensions.install(spark)
    val passes = (1 to rounds).map { _ =>
      (nsPerDoc("parquet text -> noop, one slot", "spark.scan")(
        noop(oneSlot(spark, corpus).select(col("text")))),
        nsPerDoc("page_stages -> noop, one slot", "graft.spark.expressions")(
          noop(oneSlot(spark, corpus).select(pageStagesCol(conf)))),
        nsPerDoc("Pipeline.run -> noop, one slot", "graft.spark.Pipeline")(
          noop(Pipeline.run(spark, oneSlot(spark, corpus), conf))))
    }
    val scan = Bench.median(passes.map(_._1))
    val expr = Bench.median(passes.map(_._2))
    val pipe = Bench.median(passes.map(_._3))
    Seq(
      ("scan.ns_per_doc", scan, "ns/doc"),
      ("expr.ns_per_doc", expr, "ns/doc"),
      ("expr.overhead_ns", expr - scan - coreSumNs, "ns/doc"),
      ("pipeline.ns_per_doc", pipe, "ns/doc"),
      ("recon.l0_share", coreSumNs / pipe, "ratio"))
  }
}
