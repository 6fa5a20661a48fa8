package graft.spark

import graft.core.{AhoCorasick, Hit}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-assisted NER slot (reference op 13, app/detectors.py:64-98).
  *
  * The reference loads a HF token-classification pipeline behind `lru_cache`
  * and maps labels PER→name, ORG→org, LOC→address, MISC→misc. No neural
  * runtime ships in this offline image, so the model is a SERIALIZED
  * GAZETTEER ARTIFACT (src/main/resources/graft/ner_gazetteer.tsv.gz,
  * 11k+ entries, generated by GenGazetteer) matched with an Aho-Corasick
  * automaton — O(|text|) per document regardless of dictionary size, the
  * property that survives MB-sized documents at 100 TB. The architecture is
  * exactly what any model stage needs: model BYTES broadcast once per job,
  * decoded + compiled lazily once per executor (the Spark twin of
  * `lru_cache`), inference batched inside `mapPartitions`, output in the
  * same Hit relation as the rule detectors so `merge_with_ner` (op 14) is a
  * plain array concat. An ONNX/fastText model drops in by replacing
  * [[NerModel.infer]].
  *
  * The pipeline's fused `page_stages` stage runs [[defaultModel]] per row
  * at an ENHANCED level, followed by the hits of a trained
  * [[graft.core.NerTag.NerTagModel]] when `Pipeline.Conf.trainedNer` is
  * set; [[nerHits]] is the batched form for a frame of texts.
  */
object NerSlot {

  /** Label map ported verbatim from `_HF2PII` (app/detectors.py:77-82). */
  val Hf2Pii: Map[String, String] = graft.core.NerTag.Hf2Pii

  /** The model: raw artifact bytes travel in the broadcast; the parsed
    * dictionary and the compiled automaton are per-executor lazy state. */
  final case class NerModel(modelBytes: Array[Byte]) extends Serializable {

    @transient lazy val entries: Array[(String, String, Double)] = {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(modelBytes)), "UTF-8"))
      val buf = Array.newBuilder[(String, String, Double)]
      var line = in.readLine()
      while (line != null) {
        val f = line.split("\t", 3)
        if (f.length == 3 && f(2).nonEmpty) buf += ((f(2), f(0), f(1).toDouble))
        line = in.readLine()
      }
      in.close()
      buf.result()
    }

    @transient private lazy val ac = new AhoCorasick(entries.map(_._1))

    /** One automaton pass over a text (CharSequence — the fused stage
      * feeds its reused decode buffer), all occurrences (overlaps
      * included), hits ordered (start, end, reason, text) — a total,
      * implementation-independent order. Hit.text is the DICTIONARY
      * entry, so no substring of the input is ever taken. */
    def hitsOf(t: CharSequence): Vector[Hit] = {
      val hits = Vector.newBuilder[Hit]
      ac.scan(t) { (pi, end) =>
        val (entity, label, conf) = entries(pi)
        hits += Hit(Hf2Pii.getOrElse(label, "misc"), entity, end - entity.length, end,
          conf, s"model:$label")
      }
      hits.result().sortBy(h => (h.start, h.end, h.reason, h.text))
    }

    /** Batch inference (mapPartitions path). */
    def infer(texts: Seq[String]): Seq[Vector[Hit]] = texts.map(hitsOf)
  }

  /** Default model artifact, loaded once per JVM from the classpath. */
  lazy val defaultModel: NerModel = {
    val in = getClass.getResourceAsStream("/graft/ner_gazetteer.tsv.gz")
    require(in != null, "ner_gazetteer.tsv.gz missing from resources")
    NerModel(in.readAllBytes())
  }

  // per-executor decode cache, the `lru_cache` twin: the broadcast carries
  // the bytes once per executor; this memoizes parse + automaton build
  @transient private lazy val decoded =
    new java.util.concurrent.ConcurrentHashMap[Long, NerModel]()

  /** texts → model hits, batched per partition (batchSize texts per infer
    * call so a real model amortizes tokenization/inference overhead). */
  def nerHits(df: DataFrame, idCol: String, textCol: String,
              model: Broadcast[NerModel], batchSize: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val m = decoded.computeIfAbsent(model.id, _ => model.value)
        it.grouped(batchSize).flatMap { batch =>
          val hits = m.infer(batch.map(_._2))
          batch.iterator.zip(hits.iterator).map { case ((id, _), h) => (id, h) }
        }
      }
      .toDF(idCol, "model_hits")
  }

  /** merge_with_ner (op 14): regex hits ++ model hits per row. */
  def mergedHits(df: DataFrame, idCol: String, textCol: String,
                 model: Broadcast[NerModel]): DataFrame =
    df.select(col(idCol), col(textCol),
        PiiFunctions.detectAllUdf(col(textCol)).as("rule_hits"))
      .join(nerHits(df, idCol, textCol, model), idCol)
      .select(col(idCol), concat(col("rule_hits"), col("model_hits")).as("hits"))
}
