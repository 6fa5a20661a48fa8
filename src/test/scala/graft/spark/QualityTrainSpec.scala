package graft.spark

import graft.SparkEntry
import graft.core.Perplexity
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Trained quality classifier: weights must be bit-identical across
  * partitionings (exact integer sufficient statistics), match the CPython
  * twin, and actually separate both classes of the imbalanced
  * distillation target (not collapse to all-keep).
  */
class QualityTrainSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = TestData("sf0.01")

  test("weights are bit-identical across partitionings") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w1 = QualityTrain.train(docs.repartition(1), "text")
    val w7 = QualityTrain.train(docs.repartition(7), "text")
    assert(java.util.Arrays.equals(w1, w7),
      s"layout-dependent weights:\n${w1.toSeq}\n${w7.toSeq}")
  }

  test("q_quality_train matches the CPython twin bit-for-bit") {
    val got = SparkEntry.queries("q_quality_train")(spark, dir)
    val want = spark.read.parquet(
      "src/test/resources/golden/expected_sf0.01/quality_train.parquet")
    assert(got.count() == QualityTrain.NF)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("q_quality_train_ng matches the CPython twin bit-for-bit") {
    val got = SparkEntry.queries("q_quality_train_ng")(spark, dir)
    val want = spark.read.parquet(
      "src/test/resources/golden/expected_sf0.01/quality_train_ng.parquet")
    assert(got.count() == QualityTrain.NFNg)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("hashed-n-gram features beat the 12-feature model held-out") {
    // train on doc_id % 4 != 0, evaluate agreement with the heuristic
    // labels on the held-out quarter — the hashed bag-of-words buckets
    // must add real signal, not just fit noise
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.where(col("doc_id") % 4 =!= 0)
    val heldOut = docs.where(col("doc_id") % 4 === 0)
    val wBase = QualityTrain.train(train, "text")
    val wNg = QualityTrain.trainNg(train, "text")
    val accBase = QualityTrain.accuracy(heldOut, "text", wBase, ngFeatures = false)
    val accNg = QualityTrain.accuracy(heldOut, "text", wNg, ngFeatures = true)
    assert(accNg > accBase,
      f"hashed features did not help held-out: ng=$accNg%.4f base=$accBase%.4f")
  }

  test("learned separator recovers both classes of the heuristic labels") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = QualityTrain.train(docs, "text")
    val model = Perplexity.default
    val rows = docs.select("text").collect().map(_.getString(0))
    var tp = 0; var tn = 0; var fp = 0; var fn = 0
    rows.foreach { t =>
      val (f, y) = QualityTrain.featurize(t, model.perplexity(t))
      val pred = QualityTrain.predictKeep(w, f)
      if (pred && y == 1) tp += 1
      else if (!pred && y == 0) tn += 1
      else if (pred && y == 0) fp += 1
      else fn += 1
    }
    val n = rows.length
    val acc = (tp + tn).toDouble / n
    val dropRecall = tn.toDouble / (tn + fp)
    assert(acc >= 0.90, s"accuracy $acc (tp=$tp tn=$tn fp=$fp fn=$fn)")
    assert(dropRecall >= 0.80,
      s"drop class not learned: recall $dropRecall (tn=$tn fp=$fp)")
    assert(tp > 0 && tn > 0, "classifier collapsed to one class")
  }

  test("q_quality_apply confusion relation matches the CPython twin") {
    val got = SparkEntry.queries("q_quality_apply")(spark, dir)
    val want = spark.read.parquet(
      "src/test/resources/golden/expected_sf0.01/quality_apply.parquet")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("ridge is mandatory — singular normal matrix without it") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      QualityTrain.train(docs, "text", ridge = 0.0)
    }
    assert(e.getMessage.contains("ridge"))
  }

  test("pipeline qualityModel: native score bit-matches predictKeep, " +
      "model drops attributed lowest-priority, default conf unchanged") {
    import org.apache.spark.sql.functions._
    val pages = DataGen.pages(spark, 400).toDF()
    val w = QualityTrain.train(
      pages.select(col("text")), "text")
    val out = Pipeline.run(spark, pages,
      Pipeline.Conf(qualityModel = Some(w)))
      .select("url", "ppl", "keep", "drop_reason", "model_keep")
      .collect()
    // driver-side recomputation through the JVM loop path: the native
    // Catalyst score must agree on EVERY row (bit-parity of the dot)
    val textOf = pages.select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val pplModel = Perplexity.default
    out.foreach { r =>
      val t = textOf(r.getString(0))
      val want = QualityTrain.predictKeep(w,
        QualityTrain.featurize(t, pplModel.perplexity(t))._1)
      assert(r.getBoolean(4) == want,
        s"native score diverged from predictKeep for ${r.getString(0)}")
      // attribution: quality_model appears iff the model alone rejects
      if (r.getString(3) == "quality_model")
        assert(!r.getBoolean(4), "quality_model drop but model_keep true")
      if (r.getBoolean(2)) assert(r.getBoolean(4), "kept despite model drop")
    }
    // all-negative weights: every heuristically-kept doc must drop with
    // reason quality_model; heuristic drops keep their original reason
    val nuke = Array.fill(QualityTrain.NF)(-1.0)
    val base = Pipeline.run(spark, pages)
      .select("url", "keep", "drop_reason").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
    Pipeline.run(spark, pages, Pipeline.Conf(qualityModel = Some(nuke)))
      .select("url", "keep", "drop_reason").collect().foreach { r =>
        val (hKeep, hReason) = base(r.getString(0))
        assert(!r.getBoolean(1))
        assert(r.getString(2) == (if (hKeep) "quality_model" else hReason),
          s"attribution changed for ${r.getString(0)}")
      }
    // default conf: no model_keep column
    assert(!Pipeline.run(spark, pages).columns.contains("model_keep"))
  }

  test("pipeline qualityModel: hashed-n-gram weights route through the " +
      "UDF path and agree with the driver-side loop") {
    import org.apache.spark.sql.functions._
    val pages = DataGen.pages(spark, 200).toDF()
    val w = QualityTrain.trainNg(pages.select(col("text")), "text")
    assert(w.length == QualityTrain.NFNg)
    val out = Pipeline.run(spark, pages,
      Pipeline.Conf(qualityModel = Some(w)))
      .select("url", "model_keep").collect()
    val textOf = pages.select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val pplModel = Perplexity.default
    out.foreach { r =>
      val t = textOf(r.getString(0))
      val want = QualityTrain.predictKeep(w,
        QualityTrain.featurizeNg(t, pplModel.perplexity(t))._1)
      assert(r.getBoolean(1) == want, s"ng path diverged for ${r.getString(0)}")
    }
    // a 13-weight vector is neither model — must fail fast
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, pages,
        Pipeline.Conf(qualityModel = Some(new Array[Double](13)))).collect()
    }
  }
}
