package graft.spark

import graft.SparkEntry
import graft.core.LangId
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Distributed langid training: on one-document-per-language input the
  * distributed trainer must reproduce the serial `LangId.train` BIT-FOR-BIT
  * (per-doc normalization is exactly the serial counting there); corpus
  * counts must match the CPython twin; and a model trained on the corpus'
  * own labels must classify held-out prose.
  */
class LangIdTrainSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val corpus = Vector(
    "en" -> ("the quick brown fox jumps over the lazy dog while people read " +
      "their books in the quiet room with common words of everyday writing"),
    "es" -> ("el rapido zorro marron salta sobre el perro perezoso mientras " +
      "la gente lee sus libros en la habitacion tranquila con palabras comunes"),
    "de" -> ("der schnelle braune fuchs springt uber den faulen hund wahrend " +
      "die leute ihre bucher im ruhigen zimmer mit haufigen wortern lesen"))

  test("distributed train equals serial LangId.train bit-for-bit") {
    import spark.implicits._
    // the distributed trainer canonicalizes language order (sorted) since
    // row order carries no meaning in a relation; sort the serial input
    val serial = LangId.train(corpus.sortBy(_._1))
    val dist = LangIdTrain.train(
      corpus.toDF("lang", "text").repartition(3), "lang", "text")
    assert(dist.langs == serial.langs)
    assert(java.util.Arrays.equals(dist.gramKeys, serial.gramKeys))
    assert(java.util.Arrays.equals(dist.gramLogProbs, serial.gramLogProbs))
    assert(java.util.Arrays.equals(dist.defaultLogProb, serial.defaultLogProb))
  }

  test("maxGrams bound throws instead of silently truncating") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      LangIdTrain.train(corpus.toDF("lang", "text"), "lang", "text",
        maxGrams = 10)
    }
    assert(e.getMessage.contains("maxGrams"))
  }

  test("q_langid_train matches the CPython twin over the sf0.01 corpus") {
    val got = SparkEntry.queries("q_langid_train")(spark, TestData("sf0.01"))
    val want = spark.read.parquet(
      "src/test/resources/golden/expected_sf0.01/langid_train.parquet")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("corpus-label-trained model classifies held-out prose") {
    // (the sf documents table's lang labels are random over English-ish
    // word salad, so train on a deterministic labeled corpus instead:
    // 20 docs per language sampled from per-language word pools)
    import spark.implicits._
    val pools = corpus.toMap.map { case (l, t) => l -> t.split(' ').toVector }
    val docs = for {
      (lang, words) <- pools.toSeq
      i <- 0 until 20
    } yield (lang, (0 until 12).map(j => words((i * 7 + j * 3) % words.size))
      .mkString(" "))
    val m = LangIdTrain.train(docs.toDF("lang", "text").repartition(4),
      "lang", "text", minCount = 2L)
    val (en, _) = m.classify(
      "people read their books in the quiet room over the dog")
    assert(en == "en")
    val (es, _) = m.classify(
      "la gente lee sus libros mientras el perro salta sobre la habitacion")
    assert(es == "es")
    val (de, _) = m.classify(
      "die leute lesen ihre bucher im zimmer wahrend der hund springt")
    assert(de == "de")
  }
}
