package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming face must produce row-for-row the same results as the
  * batch pipeline, and the windowed monitoring aggregate must respect
  * watermarks. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("streaming pipeline output equals batch pipeline output") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val pages = (0L until 300L).map(DataGen.pageFor(_))
    val stream = MemoryStream[Page]
    stream.addData(pages)
    val q = StreamingPipeline.run(spark, stream.toDF())
      .writeStream.format("memory").queryName("scored_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("scored_stream")
      .select("url", "keep", "drop_reason", "scrubbed_text")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    val batch = Pipeline.run(spark, pages.toDF())
      .select("url", "keep", "drop_reason", "scrubbed_text")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming with every extension enabled equals the batch run") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // toxicity (filler words that occur in real pages) + ENHANCED model
    // NER with a trained tagger + trained quality model, all through the
    // one shared Conf — pins that every optional stage is streaming-safe,
    // not just the default plan, including the tagger broadcast the fused
    // expression holds across micro-batches (CurationSpec pins its batch
    // composition)
    val pages = (0L until 300L).map(DataGen.pageFor(_))
    val w = QualityTrain.train(pages.toDF().select(col("text")), "text")
    val tagger = NerTagTrain.train(spark, pages.toDF(), "text")
    val conf = Pipeline.Conf(
      security = Pipeline.SecurityLevel.Enhanced,
      trainedNer = Some(tagger),
      // the per-language bank (with fallback) rather than the single
      // list, so the LangBank dispatch is in the streaming pin too
      toxicityByLang = Some(Map(
        "en" -> Seq("kappa", "rho"), "*" -> Seq("kappa"))),
      qualityModel = Some(w))
    val stream = MemoryStream[Page]
    stream.addData(pages.take(150))
    val cols = Seq("url", "keep", "drop_reason", "scrubbed_text",
      "n_toxic", "model_keep")
    val q = StreamingPipeline.run(spark, stream.toDF(), conf)
      .writeStream.format("memory").queryName("scored_stream_ext")
      .outputMode("append").start()
    q.processAllAvailable()
    // a second micro-batch re-plans the same expression and its broadcast
    stream.addData(pages.drop(150))
    q.processAllAvailable()
    q.stop()
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getString(2),
          r.getString(3), r.getLong(4), r.getBoolean(5))).sortBy(_._1).toSeq
    val streamed = snap(spark.table("scored_stream_ext"))
    val batch = snap(Pipeline.run(spark, pages.toDF(), conf))
    assert(streamed == batch)
    assert(streamed.exists(_._5 > 0L), "no toxicity hits — vacuous pin")
    assert(streamed.exists(!_._6), "no model drops — vacuous pin")
    assert(pages.drop(150).exists(p => tagger.hitsOf(p.text).nonEmpty),
      "no tagger hits in the second micro-batch — vacuous pin")
  }

  test("stateful host sessionization closes sessions on event-time gaps") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // two hosts; host-a has a > 1h gap after its 3rd page → two sessions
    def page(host: String, minute: Long, i: Long) = {
      val p = DataGen.pageFor(i)
      p.copy(url = s"https://$host.example/p/$i",
        warc_ts = new java.sql.Timestamp(1704067200000L + minute * 60000L))
    }
    val batch1 = Seq(
      page("host-a", 0, 1), page("host-a", 5, 2), page("host-a", 10, 3),
      page("host-b", 0, 4), page("host-b", 20, 5))
    val batch2 = Seq(page("host-a", 100, 6), page("host-a", 105, 7))
    // a far-future page advances the watermark so timeouts fire
    val flush = Seq(page("host-c", 4000, 8))
    val stream = MemoryStream[Page]
    val q = StreamingPipeline.hostSessions(
        StreamingPipeline.run(spark, stream.toDF()), gapMs = 3600000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    stream.addData(batch1); q.processAllAvailable()
    stream.addData(batch2); q.processAllAvailable()
    stream.addData(flush); q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sessions").as[StreamingPipeline.HostSession]
      .collect().sortBy(s => (s.host, s.startMs))
    val a = sessions.filter(_.host == "host-a.example")
    assert(a.length == 2, s"host-a sessions: ${sessions.mkString(";")}")
    assert(a(0).nPages == 3 && a(1).nPages == 2)
    assert(sessions.count(_.host == "host-b.example") == 1)
  }

  test("watermarked keep-rate window aggregates per event-time hour") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[Page]
    stream.addData((0L until 500L).map(DataGen.pageFor(_)))
    val agg = StreamingPipeline.keepRateByWindow(
      StreamingPipeline.run(spark, stream.toDF()), "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("keeprate")
      .outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("keeprate").collect()
    assert(rows.nonEmpty)
    // 500 docs at 1/sec from t0 span exactly one hour bucket
    val total = spark.table("keeprate").agg(sum("n_docs")).head().getLong(0)
    assert(total == 500L)
    assert(spark.table("keeprate").agg(sum("n_keep")).head().getLong(0) > 0L)
  }

  test("streaming dedup drops later fingerprint copies with bounded state") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = DataGen.pageFor(1L)
    def at(minute: Long, url: String, text: String) =
      base.copy(url = url, text = text,
        warc_ts = new java.sql.Timestamp(1704067200000L + minute * 60000L))
    val stream = MemoryStream[Page]
    // same normalized text (fingerprint collides across whitespace runs),
    // different urls — only the first arrival survives; a distinct text
    // passes through
    stream.addData(Seq(
      at(0, "https://a.example/1", "shared   body text here"),
      at(1, "https://a.example/2", "shared body  text here"),
      at(2, "https://a.example/3", "a different body text entirely"),
      at(3, "https://a.example/4", "shared body text here")))
    val q = StreamingPipeline.dedupStream(stream.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_stream").select("url")
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("https://a.example/1", "https://a.example/3"), kept)
  }
}
