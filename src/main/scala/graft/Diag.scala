package graft

import graft.spark.{DataGen, IcebergishSink, NerSlot, Pipeline}
import org.apache.spark.sql.SparkSession

/** Self-check entry point — the engine analog of the reference's
  * diagnostic harness (app/simple_main.py:44-414: `/health`, `/settings`,
  * `/test/dependencies`, `/test/pii_detection`, `/test/security_levels`).
  * A cluster operator runs this once before committing a 100-TB job:
  *
  *   spark-submit --class graft.Diag app.jar        (or sbt "runMain graft.Diag")
  *
  * Prints ONE JSON document; exit code 0 iff every check passed. Checks are
  * real work, not pings: model artifacts decode, the automaton agrees with
  * a naive scan, the detector stack fires on a known-PII sample, each
  * security level builds its plan, and a miniature pipeline round-trips
  * through the partitioned sink with an exact resume.
  */
object Diag {

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().appName("graft-diag")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val checks = scala.collection.mutable.LinkedHashMap.empty[String, (Boolean, String)]
    def check(name: String)(body: => String): Unit =
      checks(name) =
        try (true, body)
        catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }

    // /health + /test/dependencies analog: runtime + model artifacts
    check("dependencies") {
      s"spark=${spark.version} scala=${util.Properties.versionNumberString} " +
        s"java=${sys.props("java.version")}"
    }
    check("model_langid") {
      val m = graft.core.LangId.default
      require(m.classify("the quick brown fox jumps over the lazy dog")._1 == "en")
      s"langs=${m.langs.mkString(",")} grams=${m.gramKeys.length}"
    }
    check("model_perplexity") {
      val banks = graft.core.Perplexity.bank.keys.toSeq.sorted
      val p = graft.core.Perplexity.default.perplexity("a plain english sentence")
      require(p > 0 && p < 80, s"ppl=$p out of band")
      s"banks=${banks.mkString(",")} sample_ppl=${math.round(p)}"
    }
    check("model_ner_gazetteer") {
      val m = NerSlot.defaultModel
      val hits = m.infer(Seq("山田太郎 works at Example Corp")).head
      require(hits.nonEmpty, "gazetteer produced no hits on planted entities")
      s"entries=${m.entries.length} sample_hits=${hits.map(_.kind).distinct.sorted.mkString(",")}"
    }

    // /test/pii_detection analog: detector stack on a known-PII sample
    check("pii_detection") {
      val sample = "mail a@b.cc tel 03-1234-5678 id ACC-12345 pay ¥1,234 〒100-0001"
      val hits = graft.core.Detect.detectAll(sample)
      val kinds = hits.map(_.kind).distinct.sorted
      require(Set("email", "phone", "id", "amount", "address").subsetOf(kinds.toSet),
        s"missing kinds: $kinds")
      val scrubbed = graft.core.Scrub.scrubDict(sample)
      require(!scrubbed.scrubbed.contains("a@b.cc"), "email survived the scrub")
      s"kinds=${kinds.mkString(",")} n_hits=${hits.size} aliases=${scrubbed.aliases.size}"
    }

    // /test/security_levels analog: every level builds its plan; the
    // deprecated_map collapse holds; ENHANCED adds (and MAXIMUM omits) NER
    check("security_levels") {
      import Pipeline.SecurityLevel._
      val df = DataGen.pages(spark, 50).toDF()
      val cols = All.map(l => l.name ->
        Pipeline.run(spark, df, Pipeline.Conf(security = l)).columns.toSet).toMap
      require(!cols("maximum")("model_hits") && !cols("high")("model_hits"))
      require(cols("enhanced")("model_hits") && cols("standard")("model_hits"))
      All.map(l => s"${l.name}->${Pipeline.SecurityLevel.collapse(l).name}").mkString(",")
    }

    // trained-tagger smoke: distant-supervision training converges and the
    // model generalizes to an entity the gazetteer does not contain
    check("ner_tagger_train") {
      val m = graft.spark.NerTagTrain.train(
        spark, DataGen.pages(spark, 400).toDF(), "text")
      val pred = m.predict("森本太郎")
      require(pred.contains("PER"), s"unseen name predicted $pred")
      require(m.predict("Contact").isEmpty, "common word tagged")
      s"labels=${m.labels.mkString(",")} unseen_per=ok"
    }

    // curation smoke: the composed path runs end-to-end and is monotone
    check("curation_compose") {
      val (curated, r) = graft.spark.Curation.curate(
        spark, DataGen.pages(spark, 300).toDF(), inputRows = Some(300L))
      require(r.kept <= r.input && r.afterNearDup <= r.kept,
        s"non-monotone stages: $r")
      require(curated.count() == r.afterNearDup)
      s"input=${r.input} kept=${r.kept} survivors=${r.afterNearDup}"
    }

    // pipeline + sink smoke: score, write partitioned + ledger, resume is a
    // no-op, snapshot reads back the same rows
    check("pipeline_sink_roundtrip") {
      val out = java.nio.file.Files.createTempDirectory("graft-diag-sink").toString
      val conf = Pipeline.Conf(numBuckets = 8, saltBuckets = 2)
      val pages = Pipeline.withBucket(DataGen.pages(spark, 500).toDF(), conf)
      val r1 = IcebergishSink.writeResumable(spark, pages, out, conf, "diag",
        scoreAfterShuffle = df => Pipeline.withBucket(Pipeline.run(spark, df, conf), conf))
      val r2 = IcebergishSink.writeResumable(spark, pages, out, conf, "diag",
        scoreAfterShuffle = df => Pipeline.withBucket(Pipeline.run(spark, df, conf), conf))
      require(r1.bucketsWritten.size == conf.numBuckets, "first run wrote nothing")
      require(r2.bucketsWritten.isEmpty, "resume re-wrote committed buckets")
      val n = IcebergishSink.readSnapshot(spark, out).count()
      require(n == 500, s"snapshot read $n rows, expected 500")
      s"buckets=${r1.bucketsWritten.size} resume_skipped=${r2.bucketsSkipped.size} rows=$n"
    }

    spark.stop()
    val ok = checks.values.forall(_._1)
    val body = checks.map { case (k, (pass, msg)) =>
      s"${jstr(k)}:{${jstr("pass")}:$pass,${jstr("detail")}:${jstr(msg)}}"
    }.mkString(",")
    println(s"""{"status":${jstr(if (ok) "healthy" else "unhealthy")},"checks":{$body}}""")
    if (!ok) sys.exit(1)
  }
}
