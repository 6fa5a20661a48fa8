package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalNerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = TestData("sf0.001")

  private def media = Multimodal.mediaTable(spark,
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("b")),
    "doc_id", "b")

  test("media table synthesizes typed metadata deterministically") {
    val a = media.collect().sortBy(_.media_id)
    val b = media.collect().sortBy(_.media_id)
    assert(a.map(_.meta) sameElements b.map(_.meta))
    assert(a.map(_.meta.kind).toSet == Set("image", "audio", "video"))
    assert(a.forall(m => (m.meta.durationMs == 0) == (m.meta.kind == "image")))
  }

  test("featurize is deterministic, batched, and respects the resize cap") {
    val f = Multimodal.featurize(media, maxSide = 800).collect()
    assert(f.length == 500)
    assert(f.forall(r => r.features.length == 16))
    assert(f.forall(r => math.max(r.width, r.height) <= 800))
    val again = Multimodal.featurize(media, maxSide = 800).collect()
    assert(f.sortBy(_.media_id).map(_.features.toSeq).toSeq ==
      again.sortBy(_.media_id).map(_.features.toSeq).toSeq)
  }

  test("resize rule preserves aspect and honors the reference cap semantics") {
    assert(Multimodal.resizeDims(4000, 2000, 2048) == (2048, 1024))
    assert(Multimodal.resizeDims(100, 50, 2048) == (100, 50)) // no upscale
    assert(Multimodal.resizeDims(50, 5000, 1600) == (16, 1600))
  }

  test("frame sampling yields one row per sampled timestamp, none for images") {
    val frames = Multimodal.frameSample(media, everyMs = 10000, maxFrames = 4).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(f => f.ts_ms == f.frame_no * 10000L))
    val kinds = media.collect().map(m => m.media_id -> m.meta.kind).toMap
    assert(frames.forall(f => kinds(f.media_id) != "image"))
    assert(frames.groupBy(_.media_id).values.forall(_.length <= 4))
  }

  test("NER slot: model hits merge with rule hits in the same relation") {
    import spark.implicits._
    val df = Seq(
      (1L, "連絡先 taro@ex.jp の山田太郎 です"),
      (2L, "Example Corp invoice ACC-12345"),
      (3L, "nothing here")).toDF("id", "text")
    val b = spark.sparkContext.broadcast(NerSlot.defaultModel)
    val merged = NerSlot.mergedHits(df, "id", "text", b)
      .select(col("id"), explode(col("hits")).as("h"))
      .select(col("id"), col("h.kind"), col("h.reason"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(merged.contains((1L, "email", "regex:email")))
    assert(merged.contains((1L, "name", "model:PER")))
    assert(merged.contains((2L, "org", "model:ORG")))
    assert(merged.contains((2L, "id", "regex:id")))
    assert(!merged.exists(_._1 == 3L) ||
      merged.filter(_._1 == 3L).forall(_._3.startsWith("offline_rule")))
  }

  test("NER model: 11k+ entry artifact; automaton equals naive scan") {
    val m = NerSlot.defaultModel
    assert(m.entries.length >= 10000)
    val text = "佐藤 健太は東京都中央区の山田商事で働く。連絡は Example Corp まで。graft"
    val got = m.infer(Seq(text)).head.map(h => (h.kind, h.text, h.start, h.end))
    // naive per-entry scan as the independent reference
    val want = m.entries.toVector.flatMap { case (e, label, _) =>
      Iterator.iterate(text.indexOf(e))(i => text.indexOf(e, i + 1))
        .takeWhile(_ >= 0)
        .map(i => (NerSlot.Hf2Pii(label), e, i, i + e.length)).toVector
    }.sortBy(t => (t._3, t._4, t._1, t._2))
    assert(got.sortBy(t => (t._3, t._4, t._1, t._2)) == want)
    assert(got.exists(_._1 == "name") && got.exists(_._1 == "org") &&
      got.exists(_._1 == "address") && got.exists(_._1 == "misc"))
  }

  test("NER model: O(text) scan survives a 1MB document") {
    val m = NerSlot.defaultModel
    val big = new StringBuilder
    while (big.length < 1000000) big.append("plain filler text 資料 ですます ")
    big.append("山田太郎")
    val t0 = System.nanoTime()
    val hits = m.infer(Seq(big.toString)).head
    val sec = (System.nanoTime() - t0) / 1e9
    assert(hits.exists(h => h.kind == "name" && h.text == "山田太郎"))
    // generous bound: naive 11k-entry indexOf scanning would take minutes
    assert(sec < 20.0, s"1MB doc took $sec s")
  }

  test("NER slot: offsets are exact and batching does not reorder rows") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"doc $i 山田太郎 and 山田太郎 again"))
      .toDF("id", "text").repartition(7)
    val b = spark.sparkContext.broadcast(NerSlot.defaultModel)
    val hits = NerSlot.nerHits(df, "id", "text", b)
      .select(col("id"), explode(col("model_hits")).as("h")).collect()
    assert(hits.length == 200) // two occurrences per doc
    hits.foreach { r =>
      val h = r.getStruct(1)
      assert(h.getAs[String]("kind") == "name")
      assert(h.getAs[Int]("end") - h.getAs[Int]("start") == 4)
    }
  }
}
