package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{Perplexity, Quality, Scrub}
import graft.spark.{Curation, IcebergishSink, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Layers.Metric

/** Command line of one benchmark run (written by `run.py`). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cores: Int, work: String, result: String, traceDir: String,
                      scale: Double, corrupt: String, launchedNs: Long,
                      memTotalMb: Long)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("cores").toInt, req("work"), req("result"),
      req("trace-dir"), m.getOrElse("scale", "1").toDouble,
      m.getOrElse("corrupt", ""), m.getOrElse("launched-ns", "0").toLong,
      m.getOrElse("mem-total-mb", "0").toLong)
  }
}

/** One benchmark run: set-up, timed repetitions, output checks and, for the
  * traced run, the per-layer probes. */
final class Bench(val o: Opts) {
  val cores: Int = o.cores
  /** Corpus files: several per core so every slot sees a few tasks. */
  val files: Int = 4 * cores
  val listener = new BenchListener
  var spark: SparkSession = _
  var corpus: String = _
  var docs: Long = 0L
  /** The first quarter of the corpus files: one-slot jobs and the
    * per-layer probes of other layers than the workload's own read it. */
  var slice: Seq[String] = Nil
  var sliceDocs: Long = 0L
  private var checksRun = 0L
  private var checkCpuNs = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checksRun += 1
    if (!ok) failures += s"$name: $detail"
  }
  /** Task attempts plus output checks; failed task attempts plus failed checks. */
  def attempted: Long = listener.tasksEnded.get + checksRun
  def failed: Long = listener.tasksFailed.get + failures.size

  /** Run output-check code: its Spark jobs are left out of the scheduler
    * figures and its process CPU out of the repetition's. */
  def checking[A](f: => A): A = {
    val c0 = Jvm.cpuNs
    spark.sparkContext.setLocalProperty(Trace.CheckProperty, "1")
    try f
    finally {
      spark.sparkContext.setLocalProperty(Trace.CheckProperty, null)
      checkCpuNs += Jvm.cpuNs - c0
    }
  }

  /** Run `f` once, measuring process CPU and heap. `f` returns the wall
    * time counted for the repetition, which leaves out its output checks,
    * and named parts. */
  def measure(f: => (Double, Map[String, Double])): Rep = {
    Jvm.resetHeapPeak()
    val cpu0 = Jvm.cpuNs - checkCpuNs
    val (wall, parts) = f
    val cpu = (Jvm.cpuNs - checkCpuNs - cpu0) / 1e9
    Rep(wall, cpu, Jvm.heapPeakMb, docs, parts)
  }

  private def session(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(listener)
    Trace.attach(s.sparkContext)
    s
  }

  val workload: Workload = o.workload match {
    case "score" => new ScoreWorkload(this, hostile = false)
    case "hostile" => new ScoreWorkload(this, hostile = true)
    case "sink" => new SinkWorkload(this)
    case "curate" => new CurateWorkload(this)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Set-up: session start and corpus to parquet, done three times (the
    * median counts), then the untimed warm-up over the last corpus: one
    * pass with every output check, then [[Workload.warmReps]] untimed
    * repetitions. Returns the seconds `setup_s` adds to the JVM start. */
  private def setup(): Double = {
    val times = (1 to 3).map { i =>
      Rep.timed {
        if (spark != null) spark.stop()
        spark = session()
        val dir = s"${o.work}/corpus-$i"
        docs = workload.generate(dir)
        if (corpus != null) Bench.deleteTree(Paths.get(corpus))
        corpus = dir
        slice = Bench.parquetFiles(dir).take(math.max(1, files / 4)).map(_.toString)
        sliceDocs = spark.read.parquet(slice: _*).count()
      }._2
    }
    Bench.median(times) + Rep.timed {
      workload.warmup()
      (1 to workload.warmReps).foreach(_ => workload.rep())
    }._2
  }

  /** Repeat until `seconds` have passed, at least `min` times and `min`
    * plus a multiple of `step` times. */
  private def repeat(min: Int, step: Int = 1)(f: Int => Rep): Seq[Rep] = {
    val t0 = System.nanoTime()
    val reps = mutable.ArrayBuffer.empty[Rep]
    while (reps.size < min || (reps.size - min) % step != 0 ||
           (System.nanoTime() - t0) / 1e9 < o.seconds) reps += f(reps.size)
    reps.toSeq
  }

  /** The untraced side of a pair starts, as the traced side does, once
    * the listener bus is quiet, so that only tracing differs. */
  private def untracedRep(): Rep = {
    listener.drain()
    workload.rep()
  }

  private def tracedRep(): (Rep, Seq[TaskRec], Seq[Span]) = {
    listener.drain()
    listener.takeTasks()
    Trace.clear()
    Trace.on = true
    val r = try Trace.span(s"${o.workload} repetition", "perfbench")(workload.rep())
    finally { listener.drain(); Trace.on = false }
    (r, listener.takeTasks(), Trace.spans)
  }

  def run(): (Seq[Metric], Seq[Metric], Seq[Metric]) = {
    val stat0 = Jvm.procStat()
    val jvmStartS = if (o.launchedNs > 0)
      math.max(0.0, (Bench.epochNs() - o.launchedNs) / 1e9) else 0.0
    val setupS = jvmStartS + setup()
    val allSpans = mutable.ArrayBuffer.empty[Span]
    val tracedTasks = mutable.ArrayBuffer.empty[TaskRec]
    val gc0 = Jvm.workGcMs.get
    val (reps, traced) =
      if (!o.trace) (repeat(2)(_ => workload.rep()), Nil)
      else {
        // untraced and traced repetitions in pairs, each side first in
        // every other pair; `trace.overhead_frac` leaves out the first
        // pair, whose untraced side is the run's first timed repetition
        // and still slower, so each order counts in as many pairs
        val both = repeat(3, step = 2) { i =>
          val first = if (i % 2 == 0) Some(untracedRep()) else None
          val t = tracedRep()
          val u = first.getOrElse(untracedRep())
          println(f"perfbench ${o.workload} pair $i%d untraced_s ${u.wallS}%.4f " +
            f"traced_s ${t._1.wallS}%.4f first ${if (first.isDefined) "untraced" else "traced"}")
          allSpans ++= t._3
          tracedTasks ++= t._2
          Rep(u.wallS, u.cpuS, u.heapMb, u.docs, u.parts ++
            t._1.parts.map { case (k, v) => s"traced.$k" -> v } ++
            Map("traced.wall_s" -> t._1.wallS) ++
            Bench.schedulerParts(t._2, t._3, t._1.wallS, cores))
        }
        (both, both)
      }
    reps.zipWithIndex.foreach { case (r, i) =>
      println(f"perfbench ${o.workload} rep $i%d wall_s ${r.wallS}%.4f cpu_s ${r.cpuS}%.4f")
    }
    val e2e = Seq[Metric](
      ("setup_s", setupS, "s"),
      ("docs_per_s", workload.docsPerS(reps), "docs/s"),
      ("wall_s", Bench.median(reps.map(_.wallS)), "s"),
      ("cpu_s_per_kdoc", Bench.median(reps.map(r => r.cpuS / (r.docs / 1000.0))), "cpu-s/kdoc"),
      ("heap_peak_mb", Bench.median(reps.map(_.heapMb)), "MB"))
    val layers = if (!o.trace) Nil else {
      Trace.clear()
      Trace.on = true
      val probes = try probeLayers(traced) finally { listener.drain(); Trace.on = false }
      allSpans ++= Trace.spans
      tracedTasks ++= listener.takeTasks()
      val overhead = Bench.median(traced.drop(1).map(r => r.parts("traced.wall_s") / r.wallS)) - 1.0
      val stat1 = Jvm.procStat()
      // collection times cover the traced repetitions and the probes
      probes ++ Bench.schedulerLayer(traced.map(_.parts), listener.tasksFailed.get) ++ Seq(
        ("spark.gc_s", tracedTasks.map(_.gcMs).sum / 1e3, "s"),
        ("host.steal_frac", Bench.stealFrac(stat0, stat1), "ratio"),
        ("jvm.gc_s", (Jvm.workGcMs.get - gc0) / 1e3, "s"),
        ("trace.overhead_frac", overhead, "ratio"))
    }
    val extra = Seq[Metric](
      ("fail_frac", failed.toDouble / math.max(attempted, 1L), "ratio")) ++
      workload.extraE2e(reps)
    if (o.trace) writeTrace(allSpans.toSeq, stat0)
    (e2e, extra, layers)
  }

  /** Per-layer probes over the corpus slice; the sink and curation layers
    * of the `sink` and `curate` workloads come from their own traced
    * repetitions over the whole corpus. */
  private def probeLayers(traced: Seq[Rep]): Seq[Metric] = {
    val conf = workload.conf
    val texts = spark.read.parquet(slice: _*).select("text").collect().map(_.getString(0))
    val core = Layers.core(texts, conf)
    val coreSum = core.find(_._1 == "core.sum_ns").get._2
    // on `hostile` every one-slot pass runs the straggler doc, so one round
    // keeps the traced run well inside its time limit
    val l1 = Layers.spark1(spark, slice, sliceDocs, conf, coreSum,
      rounds = if (o.workload == "hostile") 1 else 3)
    val sink = workload match {
      case _: SinkWorkload => workload.ownLayer(traced)
      case _ =>
        val out = s"${o.work}/probe-table"
        val parts = Trace.span("sink probe", "perfbench")(
          sinkCycle(slice, conf, out, checks = false))
        Bench.deleteTree(Paths.get(out))
        Bench.sinkLayer(Seq(parts), sliceDocs)
    }
    val cur = workload match {
      case _: CurateWorkload => workload.ownLayer(traced)
      case _ =>
        val (_, rep) = Trace.span("curation probe", "perfbench")(
          curate(spark.read.parquet(slice: _*), conf))
        Bench.curationLayer(Seq(Bench.curationParts(rep)))
    }
    // Curation counts the keep rows of Pipeline.run over its input
    val keepFrac = cur.find(_._1 == "curation.keep_frac").get._2
    core ++ l1 ++ Seq(("pipeline.keep_frac", keepFrac, "ratio")) ++ sink ++ cur
  }

  /** Decontamination set: the texts of a seeded 1-in-200 slice of the corpus. */
  def curate(pages: DataFrame, conf: Pipeline.Conf): (DataFrame, Curation.Report) = {
    val bench = pages.where(pmod(xxhash64(col("url"), lit(o.seed)), lit(200)) === 0)
      .select("text")
    Trace.span("Curation.curate", "graft.spark.Curation")(
      Curation.curate(spark, pages, conf, benchmark = Some(bench)))
  }

  def checkCuration(r: Curation.Report, survivors: Seq[String], kept: Set[String]): Unit = {
    check("curation input = corpus rows", r.input == docs, s"${r.input} != $docs")
    check("curation counts are monotone",
      r.input >= r.kept && r.kept >= r.afterNearDup && r.afterNearDup >= r.afterDecontam,
      s"$r")
    check("near-duplicate collapse and decontamination both fire",
      r.afterNearDup < r.kept && r.afterDecontam < r.afterNearDup, s"$r")
    check("kept count = keep rows of Pipeline.run", r.kept == kept.size,
      s"${r.kept} != ${kept.size}")
    check("survivor count = report", survivors.size == r.afterDecontam,
      s"${survivors.size} != ${r.afterDecontam}")
    check("survivors are a subset of kept", survivors.forall(kept),
      s"${survivors.count(u => !kept(u))} survivors not kept")
  }

  /** Rows in = rows out, and on a seeded sample (plus every row `always`
    * selects) keep, drop_reason, scrubbed_text and n_hits equal
    * `graft.core` called directly. */
  def checkScoredRows(scored: DataFrame, conf: Pipeline.Conf, always: String => Boolean): Unit = {
    val out = scored.select("url", "keep", "drop_reason", "scrubbed_text", "n_hits")
      .collect()
    val urls = out.map(_.getString(0))
    check("rows in = rows out", out.length == docs && urls.distinct.length == docs,
      s"${out.length} rows, ${urls.distinct.length} distinct urls, $docs in")
    val rnd = new java.util.Random(o.seed)
    val sorted = urls.sorted
    val picked = (Seq.fill(200)(sorted(rnd.nextInt(sorted.length))) ++
      sorted.filter(always)).toSet
    val sample = out.filter(r => picked(r.getString(0))).sortBy(_.getString(0))
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2), r.getString(3),
        r.getMap[String, Long](4).toMap))
    // planted corruption for the self-test: the checks must catch it
    o.corrupt match {
      case "flip_keep" =>
        sample(0) = sample(0).copy(_2 = !sample(0)._2)
      case "alter_scrub" =>
        sample(0) = sample(0).copy(_4 = sample(0)._4 + "#")
      case _ =>
    }
    val texts = spark.read.parquet(corpus).where(col("url").isin(picked.toSeq: _*))
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val pol = Layers.policiesCsv(conf)
    sample.foreach { case (url, keep, reason, scrubbed, hits) =>
      val t = texts(url)
      val (k, why) = Quality.decide(Quality.metrics(t), Perplexity.default.perplexity(t),
        conf.quality)
      val d = Scrub.scrubWithMode(conf.scrubMode, t, conf.keyB64, conf.ns, pol)
      check("keep/drop_reason = graft.core", keep == k && reason == why,
        s"$url: ($keep, $reason) != ($k, $why)")
      check("scrubbed_text = graft.core", scrubbed == d.scrubbed, s"$url differs")
      check("n_hits = graft.core", hits == d.counts, s"$url: $hits != ${d.counts}")
    }
  }

  /** Bucket, shuffle, score after the shuffle and commit, as a production
    * run does. */
  def sinkWrite(input: Seq[String], conf: Pipeline.Conf, out: String,
                label: String): IcebergishSink.WriteReport =
    Trace.span(s"IcebergishSink.writeResumable ($label)", "graft.spark.IcebergishSink")(
      IcebergishSink.writeResumable(spark,
        Pipeline.withBucket(spark.read.parquet(input: _*), conf),
        out, conf, "perfbench",
        scoreAfterShuffle = df => Pipeline.withBucket(Pipeline.run(spark, df, conf), conf)))

  /** Fresh table: write, lose the ledger of every even committed bucket,
    * resume, read back a per-bucket query. Returns the timed parts and the
    * figures of the first write's listener records, which it leaves in
    * place for the enclosing traced repetition. */
  def sinkCycle(input: Seq[String], conf: Pipeline.Conf, out: String,
                checks: Boolean): Map[String, Double] = {
    def write(label: String) = sinkWrite(input, conf, out, label)
    listener.drain()
    val mark = listener.mark
    val spans0 = Trace.spans.map(_.id).toSet
    val (_, writeS) = Rep.timed(write("fresh"))
    val returnedMs = System.currentTimeMillis()
    listener.drain()
    val commitS = (returnedMs - listener.lastJobEndMs.get) / 1e3
    val tasks = listener.since(mark)
    val writeStageS = Trace.spans.filter(s => s.layer == "spark.stage" && !spans0(s.id))
      .sortBy(_.endNs).lastOption.map(s => (s.endNs - s.startNs) / 1e9).getOrElse(0.0)
    val before = if (checks) Some(checking(bucketPrints(out, "fresh write"))) else None

    val crashed = IcebergishSink.completedBuckets(out).toSeq.sorted.filter(_ % 2 == 0)
    crashed.foreach(b => Files.delete(Paths.get(out, "_ledger", s"bucket-$b.json")))
    val (resumed, resumeS) = Rep.timed(write("resume"))
    if (o.corrupt == "lost_bucket") {
      val lost = crashed.map(b => Paths.get(out, "data", s"part_bucket=$b"))
        .find(Files.exists(_)).get
      Bench.deleteTree(lost)
    }
    if (checks) checking {
      check("resume rewrites exactly the lost buckets",
        resumed.bucketsWritten.sorted == crashed, s"${resumed.bucketsWritten} != $crashed")
      val after = bucketPrints(out, "resume")
      val b0 = before.get
      check("resumed table = uncrashed write, per bucket", after == b0,
        s"buckets differ: ${(b0.keySet ++ after.keySet).filter(k => b0.get(k) != after.get(k)).toSeq.sorted}")
    }
    val (perBucket, readS) = Rep.timed(
      Trace.span("IcebergishSink.readSnapshot + per-bucket query", "graft.spark.IcebergishSink")(
        IcebergishSink.readSnapshot(spark, out).groupBy("part_bucket")
          .agg(avg(col("keep").cast("double")).as("keep_rate"),
            sum(octet_length(col("scrubbed_text"))).as("scrubbed_bytes"))
          .collect()))
    if (checks) check("read-back covers every committed bucket",
      perBucket.length == before.get.size, s"${perBucket.length} != ${before.get.size}")
    val data = Bench.parquetFiles(s"$out/data")
    Map("write_s" -> writeS, "resume_s" -> resumeS, "read_s" -> readS,
      "commit_s" -> commitS, "write_stage_s" -> writeStageS,
      "files" -> data.size.toDouble,
      "out_bytes" -> data.map(Files.size(_)).sum.toDouble,
      "resume_buckets" -> resumed.bucketsWritten.size.toDouble,
      "shuffle_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "shuffle_write_s" -> tasks.map(_.shuffleWriteNs).sum / 1e9)
  }

  /** Per bucket of the committed snapshot: rows, keep rows, hits and an
    * order-free hash of the rows. Checks on the way that the ledger totals
    * equal this full scan and that the table holds every corpus row. */
  private def bucketPrints(out: String, when: String): Map[Int, (Long, Long, Long, Long)] = {
    val prints = IcebergishSink.readSnapshot(spark, out).groupBy("part_bucket")
      .agg(count(lit(1)), sum(col("keep").cast("long")),
        sum(aggregate(map_values(col("n_hits")), lit(0L), (a, x) => a + x)),
        bit_xor(xxhash64(col("url"), col("keep"), col("drop_reason"), col("scrubbed_text"))))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val lin = IcebergishSink.readLineage(out)
    val ledger = (lin.map(_.rows).sum, lin.map(_.keepRows).sum, lin.map(_.hits).sum)
    val scan = (prints.values.map(_._1).sum, prints.values.map(_._2).sum,
      prints.values.map(_._3).sum)
    check(s"ledger totals = table scan after $when", ledger == scan, s"$ledger != $scan")
    check(s"table rows = corpus rows after $when", scan._1 == docs, s"${scan._1} != $docs")
    prints
  }

  private def writeTrace(spans: Seq[Span], stat0: (Long, Long)): Unit = {
    val runId = s"${o.workload}-seed${o.seed}-${java.util.UUID.randomUUID().toString.take(8)}"
    val self = Trace.selfTimeByLayer(spans)
    self.foreach { case (l, s) => println(f"perfbench ${o.workload} self_time $l%-28s $s%10.4f s") }
    val json = s"""{"run":"$runId","workload":"${o.workload}","seed":${o.seed},""" +
      s""""host":${Bench.hostJson(o, Jvm.procStat(), stat0)},""" +
      self.map { case (l, s) => s""""$l":$s""" }.mkString("\"self_time_s\":{", ",", "},") +
      s""""spans":${Trace.toJson(spans, runId)}}"""
    val dir = Paths.get(o.traceDir)
    Files.createDirectories(dir)
    val f = dir.resolve(s"trace-${o.workload}-seed${o.seed}.json")
    Files.write(f, json.getBytes(UTF_8))
    println(s"perfbench ${o.workload} trace ${spans.size} spans -> $f")
  }
}

object Bench {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def parquetFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  def hostJson(o: Opts, now: (Long, Long), stat0: (Long, Long)): String =
    s"""{"nproc":${o.cores},"mem_total_mb":${o.memTotalMb},"heap_max_mb":${Jvm.heapMaxMb},""" +
      s""""jvm":"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",""" +
      s""""steal_frac":${stealFrac(stat0, now)}}"""

  def curationParts(r: Curation.Report): Map[String, Double] =
    Seq("pipeline", "near_dup", "survivors", "decontam").map(k =>
      s"stage.$k" -> r.stageSec.getOrElse(k, 0.0)).toMap ++ Map(
      "keep_frac" -> r.kept.toDouble / r.input,
      "near_dup_frac" -> (r.kept - r.afterNearDup).toDouble / math.max(r.kept, 1L),
      "decontam_frac" -> (r.afterNearDup - r.afterDecontam).toDouble / math.max(r.afterNearDup, 1L))

  def curationLayer(parts: Seq[Map[String, Double]]): Seq[Metric] = {
    def m(k: String) = median(parts.map(p => p.getOrElse(s"traced.$k", p(k))))
    Seq(
      ("curation.pipeline_s", m("stage.pipeline"), "s"),
      ("curation.near_dup_s", m("stage.near_dup"), "s"),
      ("curation.survivors_s", m("stage.survivors"), "s"),
      ("curation.decontam_s", m("stage.decontam"), "s"),
      ("curation.keep_frac", m("keep_frac"), "ratio"),
      ("curation.near_dup_frac", m("near_dup_frac"), "ratio"),
      ("curation.decontam_frac", m("decontam_frac"), "ratio"))
  }

  def sinkLayer(parts: Seq[Map[String, Double]], docs: Long): Seq[Metric] = {
    def m(k: String) = median(parts.map(p => p.getOrElse(s"traced.$k", p(k))))
    Seq(
      ("sink.shuffle_bytes_per_doc", m("shuffle_bytes") / docs, "B/doc"),
      ("sink.shuffle_write_s", m("shuffle_write_s"), "s"),
      ("sink.write_stage_s", m("write_stage_s"), "s"),
      ("sink.commit_s", m("commit_s"), "s"),
      ("sink.files", m("files"), "count"),
      ("sink.resume_buckets_written", m("resume_buckets"), "count"),
      ("sink.out_bytes_per_doc", m("out_bytes") / docs, "B/doc"),
      ("sink.write_s", m("write_s"), "s"),
      ("sink.resume_s", m("resume_s"), "s"),
      ("sink.read_s", m("read_s"), "s"))
  }

  /** Scheduler figures of one traced repetition. */
  def schedulerParts(tasks: Seq[TaskRec], spans: Seq[Span], wallS: Double,
                     cores: Int): Map[String, Double] = {
    val d = tasks.map(_.durationMs.toDouble).sorted
    val p50 = if (d.isEmpty) 0.0 else d(d.size / 2)
    val max = if (d.isEmpty) 0.0 else d.last
    Map(
      "spark.jobs" -> spans.count(_.layer == "spark.job").toDouble,
      "spark.stages" -> spans.count(_.layer == "spark.stage").toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_p50_ms" -> p50,
      "spark.task_max_ms" -> max,
      "spark.task_skew" -> max / math.max(p50, 1.0),
      "spark.util" -> tasks.map(_.runMs).sum / 1e3 / (wallS * cores),
      "spark.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.input_bytes" -> tasks.map(_.inputBytes).sum.toDouble)
  }

  def schedulerLayer(parts: Seq[Map[String, Double]], failedTasks: Long): Seq[Metric] = {
    def m(k: String) = median(parts.map(_(k)))
    Seq(
      ("spark.jobs", m("spark.jobs"), "count"),
      ("spark.stages", m("spark.stages"), "count"),
      ("spark.tasks", m("spark.tasks"), "count"),
      ("spark.task_p50_ms", m("spark.task_p50_ms"), "ms"),
      ("spark.task_max_ms", m("spark.task_max_ms"), "ms"),
      ("spark.task_skew", m("spark.task_skew"), "ratio"),
      ("spark.util", m("spark.util"), "ratio"),
      ("spark.executor_cpu_s", m("spark.executor_cpu_s"), "s"),
      ("spark.input_bytes", m("spark.input_bytes"), "bytes"),
      ("spark.failed_tasks", failedTasks.toDouble, "count"))
  }
}

object Main {
  def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def metricsJson(ms: Seq[Metric]): String =
    ms.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val b = new Bench(o)
    val code =
      try {
        val (e2e, extra, layers) = b.run()
        println(s"perfbench ${o.workload} corpus_docs ${b.docs}")
        (e2e ++ extra ++ layers).foreach { case (n, v, u) =>
          println(f"perfbench ${o.workload} $n%-30s $v%16.6f $u")
        }
        val stat = Jvm.procStat()
        println(s"perfbench ${o.workload} host ${Bench.hostJson(o, stat, stat)}")
        b.failures.foreach(f => println(s"perfbench ${o.workload} CHECK FAILED $f"))
        val reported = if (o.trace) layers else e2e
        val bad = reported.filter { case (_, v, _) => v.isNaN || v.isInfinite }
        bad.foreach { case (n, _, _) => b.check("metric is a number", ok = false, n) }
        val json = s"""{"correct":${b.failures.isEmpty},"attempted":${b.attempted},""" +
          s""""failed":${b.failed},""" +
          s""""metrics":${metricsJson(reported.filterNot(bad.contains))}}"""
        Files.write(Paths.get(o.result), (json + "\n").getBytes(UTF_8))
        if (b.failures.isEmpty) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally {
        if (b.spark != null) b.spark.stop()
      }
    System.exit(code)
  }
}
