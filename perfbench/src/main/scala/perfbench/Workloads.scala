package perfbench

import java.nio.file.Paths

import graft.spark.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Layers.{Metric, noop}

/** A workload: how its corpus is made, what one timed repetition runs, and
  * which output checks it makes. */
abstract class Workload(val b: Bench) {
  def name: String
  def conf: Pipeline.Conf = Workload.WebConf
  /** Writes the corpus parquet under `dir`; returns its row count. */
  def generate(dir: String): Long
  /** One timed repetition over the current corpus. */
  def rep(): Rep
  /** The untimed warm-up pass of set-up: the workload's job once, with
    * every output check. */
  def warmup(): Unit
  /** Untimed repetitions after the warm-up pass. Without them the JIT is
    * still compiling during the first timed repetition, which then takes
    * 10-25% more wall (`sink`, `curate`) or up to twice as much (`score`)
    * as later ones. */
  def warmReps: Int = 1
  /** `docs_per_s`: docs from input to complete result, per second. */
  def docsPerS(reps: Seq[Rep]): Double = b.docs / Bench.median(reps.map(_.wallS))
  /** Workload-only end-to-end metrics. */
  def extraE2e(reps: Seq[Rep]): Seq[Metric] = Nil
  /** Per-layer metrics of the traced repetitions this workload's own job
    * yields (sink or curation); other layers come from probes. */
  def ownLayer(traced: Seq[Rep]): Seq[Metric] = Nil

  def spark = b.spark
  def pages: DataFrame = spark.read.parquet(b.corpus)
}

object Workload {
  /** `Pipeline.Conf` of `score`, `sink` and `hostile`: the defaults, with
    * output buckets sized to the corpus (16 buckets of ~500 rows at the
    * `sink` size instead of 64 buckets of ~125). */
  val WebConf: Pipeline.Conf = Pipeline.Conf(numBuckets = 16)
}

/** `score` and `hostile`: the web mix through `Pipeline.run` to noop. */
final class ScoreWorkload(b: Bench, hostile: Boolean) extends Workload(b) {
  val name: String = if (hostile) "hostile" else "score"
  private val rows = math.max(400L, (12000 * b.o.scale).toLong)
  // `score` repetitions are short, and its first two after the checked
  // pass are still slow
  override def warmReps: Int = if (hostile) 1 else 2

  def generate(dir: String): Long = {
    Corpus.webMix(spark, name, b.o.seed, rows, b.files, hostile)
      .write.mode("overwrite").parquet(dir)
    rows
  }

  def rep(): Rep = {
    val r = b.measure {
      (Rep.timed(Trace.span("Pipeline.run -> noop", "graft.spark.Pipeline")(
        noop(Pipeline.run(spark, pages, conf))))._2, Map.empty)
    }
    // the one-slot job feeds `scaling_eff` only; a traced repetition runs
    // the timed job alone, so the scheduler figures describe the job that
    // `wall_s` times
    if (hostile || Trace.on) r
    else {
      val (_, s1) = Rep.timed(Trace.span("Pipeline.run -> noop, one slot", "graft.spark.Pipeline")(
        noop(Pipeline.run(spark, Layers.oneSlot(spark, b.slice), conf))))
      r.copy(parts = Map("slot1_s" -> s1))
    }
  }

  override def extraE2e(reps: Seq[Rep]): Seq[Metric] =
    if (hostile) Nil
    else {
      val thrN = docsPerS(reps)
      val thr1 = b.sliceDocs / Bench.median(reps.map(_.parts("slot1_s")))
      Seq(("scaling_eff", thrN / (b.cores * thr1), "ratio"),
        ("docs_per_s_1", thr1, "docs/s"))
    }

  def warmup(): Unit =
    b.checkScoredRows(Pipeline.run(spark, pages, conf), conf,
      if (hostile) Corpus.isAdversarialUrl else _ => false)
}

/** `sink`: bucket, shuffle, score and commit through `IcebergishSink`,
  * lose half the ledger, resume, then read the snapshot back. */
final class SinkWorkload(b: Bench) extends Workload(b) {
  val name = "sink"
  private val rows = math.max(400L, (8000 * b.o.scale).toLong)
  private var cycles = 0

  def generate(dir: String): Long = {
    Corpus.webMix(spark, name, b.o.seed, rows, b.files, hostile = false)
      .write.mode("overwrite").parquet(dir)
    rows
  }

  def rep(): Rep = {
    cycles += 1
    val out = s"${b.o.work}/table-$cycles"
    val r = b.measure {
      val c = b.sinkCycle(Seq(b.corpus), conf, out, checks = false)
      (c("write_s") + c("resume_s") + c("read_s"), c)
    }
    Bench.deleteTree(Paths.get(out))
    r
  }

  def warmup(): Unit = {
    val out = s"${b.o.work}/warmup-table"
    b.sinkCycle(Seq(b.corpus), conf, out, checks = true)
    Bench.deleteTree(Paths.get(out))
  }

  override def docsPerS(reps: Seq[Rep]): Double =
    b.docs / Bench.median(reps.map(_.parts("write_s")))

  override def extraE2e(reps: Seq[Rep]): Seq[Metric] = Seq(
    ("out_bytes_per_doc", Bench.median(reps.map(_.parts("out_bytes"))) / b.docs, "B/doc"),
    ("resume_s", Bench.median(reps.map(_.parts("resume_s"))), "s"),
    ("read_s", Bench.median(reps.map(_.parts("read_s"))), "s"))

  override def ownLayer(traced: Seq[Rep]): Seq[Metric] = Bench.sinkLayer(traced.map(_.parts), b.docs)
}

/** `curate`: near-duplicate-heavy corpus through `Curation.curate` at the
  * ENHANCED level with reference aliases and a decontamination set cut
  * from the corpus. */
final class CurateWorkload(b: Bench) extends Workload(b) {
  val name = "curate"
  override val conf: Pipeline.Conf = Workload.WebConf.copy(scrubMode = "ref",
    security = Pipeline.SecurityLevel.Enhanced)
  private val baseRows = math.max(400L, (4000 * b.o.scale).toLong)
  private var survivorsSeen: Option[Seq[String]] = None

  def generate(dir: String): Long = {
    val (ds, cl) = Corpus.nearDup(spark, b.o.seed, baseRows, b.files)
    ds.write.mode("overwrite").parquet(dir)
    baseRows + cl.copies
  }

  private def survivors(clean: DataFrame): Seq[String] =
    clean.select("url").collect().map(_.getString(0)).sorted.toSeq

  /** Counts, kept set and survivors checked against `Pipeline.run`. */
  def warmup(): Unit = {
    val (clean, report) = b.curate(pages, conf)
    val kept = Pipeline.run(spark, pages, conf).where(col("keep")).select("url")
      .collect().map(_.getString(0)).toSet
    val s = survivors(clean)
    b.checkCuration(report, s, kept)
    survivorsSeen = Some(s)
  }

  /** Each repetition checks that the survivor set repeats exactly. */
  def rep(): Rep = b.measure {
    val ((clean, report), wall) = Rep.timed(b.curate(pages, conf))
    b.checking {
      b.check("survivor set repeats across repetitions",
        survivorsSeen.contains(survivors(clean)), "survivor set changed")
    }
    (wall, Bench.curationParts(report))
  }

  override def ownLayer(traced: Seq[Rep]): Seq[Metric] = Bench.curationLayer(traced.map(_.parts))
}
