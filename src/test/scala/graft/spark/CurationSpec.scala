package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Composed curation path: monotone per-stage counts, exact duplicates
  * collapsed to one representative, planted benchmark leakage removed,
  * and a layout-independent curated id set. */
class CurationSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Latest modification time among a directory's entries. */
  private def mtime(p: String): Long = {
    val entries = java.nio.file.Files.list(java.nio.file.Paths.get(p))
    try entries.iterator.asScala.map(java.nio.file.Files.getLastModifiedTime(_).toMillis).max
    finally entries.close()
  }

  /** Runs `f` on a fresh temp dir and deletes the dir afterwards. */
  private def withTempDir(prefix: String)(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  // DataGen pages + planted exact copies of one clean page under new urls
  private def corpus = {
    import spark.implicits._
    val base = DataGen.pages(spark, 800, partitions = 8).toDF()
    val clean = base.where(length(col("text")) > 300).limit(1)
      .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
      .collect().head
    val copies = (1 to 5).map(i =>
      (s"https://copy-$i.example/p/$i", clean.getTimestamp(1),
        clean.getAs[Array[Byte]](2), clean.getString(3), clean.getString(4)))
      .toDF("url", "warc_ts", "html", "text", "lang")
    base.unionByName(copies)
  }

  test("stage counts are monotone and exact duplicates collapse") {
    val (curated, r) = Curation.curate(spark, corpus)
    assert(r.input == 805)
    assert(r.kept <= r.input && r.afterNearDup <= r.kept &&
      r.afterDecontam == r.afterNearDup)
    // the 5 planted copies (plus their source if kept) survive as ONE row
    val byDigest = curated.groupBy(md5(col("scrubbed_text"))).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(byDigest == 1L, "an exact-duplicate group survived curation")
    assert(curated.count() == r.afterNearDup)
  }

  test("planted benchmark leakage is removed") {
    import spark.implicits._
    val (all, _) = Curation.curate(spark, corpus)
    // benchmark = the text of one curated long doc → that doc must drop
    val leakedUrl = all.where(length(col("scrubbed_text")) > 300)
      .select("url").orderBy("url").limit(1).head().getString(0)
    val leakedText = all.where(col("url") === leakedUrl)
      .select("scrubbed_text").head().getString(0)
    val bench = Seq(leakedText).toDF("text")
    val (curated, r) = Curation.curate(spark, corpus, benchmark = Some(bench))
    assert(r.afterDecontam < r.afterNearDup)
    assert(curated.where(col("url") === leakedUrl).isEmpty)
  }

  test("q_curation matches the CPython composed-curation twin") {
    val got = graft.SparkEntry.queries("q_curation")(spark, TestData("sf0.01"))
      .collect().map(_.getString(0)).toSet
    val want = spark.read.parquet(
      "src/test/resources/golden/expected_sf0.01/curation.parquet")
      .collect().map(_.getString(0)).toSet
    assert(got == want,
      s"survivor sets differ: spark-only=${(got -- want).take(5)}, " +
        s"twin-only=${(want -- got).take(5)}")
    // non-vacuous: dedup and decontam each removed something
    assert(want.nonEmpty && want.size < 1564)
  }

  test("all optional stages compose: ENHANCED + trained tagger + toxicity") {
    import spark.implicits._
    val tagger = NerTagTrain.train(spark, DataGen.pages(spark, 400).toDF(), "text")
    val base = DataGen.pages(spark, 300).toDF()
    val toxic = Seq(("https://toxic.example/1",
      new java.sql.Timestamp(0L), Array.empty[Byte],
      "The library opens at nine in the morning and closes at eight in " +
        "the evening. Most readers scan the first damn page of a report " +
        "and then move on to other work without any delay at all.", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val conf = Pipeline.Conf(security = Pipeline.SecurityLevel.Enhanced,
      trainedNer = Some(tagger), toxicityByLang = Some(Map("*" -> Toxicity.DefaultList)))
    val (curated, r) = Curation.curate(spark, base.unionByName(toxic), conf,
      inputRows = Some(301L))
    assert(r.kept <= r.input && r.afterNearDup <= r.kept)
    assert(curated.count() == r.afterNearDup)
    // the planted toxic page dropped (C4 rule), so it cannot survive
    assert(curated.where(col("url") === "https://toxic.example/1").isEmpty)
    // survivors carry the ENHANCED columns and no listed term
    assert(curated.columns.contains("model_hits") &&
      curated.columns.contains("n_toxic"))
    assert(curated.where(col("scrubbed_text").rlike(
      Toxicity.pattern())).isEmpty, "a listed term survived curation")
  }

  test("curated id set is identical across partitionings") {
    val (c1, _) = Curation.curate(spark, corpus.repartition(2))
    val (c2, _) = Curation.curate(spark, corpus.repartition(11))
    val s1 = c1.select("url").collect().map(_.getString(0)).toSet
    val s2 = c2.select("url").collect().map(_.getString(0)).toSet
    assert(s1 == s2)
  }

  test("staged Recompute mode (the 100-TB shape) yields identical results") {
    withTempDir("graft-cur-stage") { dir =>
      val (cDefault, rDefault) = Curation.curate(spark, corpus)
      val (cStaged, rStaged) = Curation.curate(spark, corpus,
        stageDir = Some(dir))
      val sD = cDefault.select("url").collect().map(_.getString(0)).toSet
      val sS = cStaged.select("url").collect().map(_.getString(0)).toSet
      assert(sD == sS, "staged survivors diverged from localCheckpoint mode")
      assert((rDefault.input, rDefault.kept, rDefault.afterNearDup) ==
        (rStaged.input, rStaged.kept, rStaged.afterNearDup))
      // the staged tables exist and are re-readable (resume surface)
      assert(spark.read.parquet(s"$dir/kept").count() == rStaged.kept)
      assert(spark.read.parquet(s"$dir/deduped").count() == rStaged.afterNearDup)
      // stageResume: a re-run reuses the committed stages (files untouched)
      // and still returns identical results; default mode rewrites them
      val t0 = mtime(s"$dir/kept")
      val (cResumed, rResumed) = Curation.curate(spark, corpus,
        stageDir = Some(dir), stageResume = true)
      assert(mtime(s"$dir/kept") == t0, "resume rewrote a committed stage")
      assert(cResumed.select("url").collect().map(_.getString(0)).toSet == sS)
      assert(rResumed.kept == rStaged.kept)
      val (_, rRewrit) = Curation.curate(spark, corpus, stageDir = Some(dir))
      assert(mtime(s"$dir/kept") != t0, "default staged mode must rewrite")
      assert(rRewrit.kept == rStaged.kept)
    }
  }

  test("crash-mid-stage resume: the stage missing its _SUCCESS is rewritten, " +
    "committed stages are not recomputed") {
    withTempDir("graft-cur-crash") { dir =>
      val (cFull, rFull) = Curation.curate(spark, corpus, stageDir = Some(dir))
      val sFull = cFull.select("url").collect().map(_.getString(0)).toSet
      val tKept = mtime(s"$dir/kept")
      val tDedup = mtime(s"$dir/deduped")
      // simulate a crash between stages: the LATER stage lost its commit
      // marker (a half-written victim has no _SUCCESS), the earlier one
      // committed cleanly
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$dir/deduped/_SUCCESS"))
      val (cRes, rRes) = Curation.curate(spark, corpus,
        stageDir = Some(dir), stageResume = true)
      assert(mtime(s"$dir/kept") == tKept,
        "resume recomputed an already-committed stage")
      assert(mtime(s"$dir/deduped") != tDedup,
        "the crashed (marker-less) stage must be rewritten")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/deduped/_SUCCESS")),
        "the rewritten stage must be committed")
      assert(cRes.select("url").collect().map(_.getString(0)).toSet == sFull,
        "post-crash resume changed the survivor set")
      assert((rRes.input, rRes.kept, rRes.afterNearDup) ==
        (rFull.input, rFull.kept, rFull.afterNearDup))
    }
  }
}
