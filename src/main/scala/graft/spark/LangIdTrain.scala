package graft.spark

import graft.core.{LangId, LangIdModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed fastText-style langid training — the companion of the
  * CLASSIFIER ([[graft.core.LangId]]): learn per-language character-n-gram
  * profiles from labeled web pages (the corpus' own `lang` column) instead
  * of the embedded seed, which is how fastText's published lid models are
  * actually produced (supervised over labeled Common-Crawl/Wikipedia text).
  *
  * Scale shape: grams are exploded per document and aggregated by
  * (lang, gram) through Spark's own hash aggregation — map-side combine
  * plus spill, so no per-partition structure of ours can OOM; the shuffled
  * relation is vocabulary-sized (distinct grams × languages), not
  * corpus-sized. `minCount` prunes the hapax tail (fastText's `-minCount`)
  * and `maxGrams` bounds the driver collect explicitly — it throws rather
  * than silently truncating.
  *
  * Semantics: each document is normalized and gram-extracted independently
  * (`LangId.grams` — lowercase, whitespace folded to single spaces, leading/
  * trailing sentinel space, 4096-char prefix). On a one-document-per-language
  * input this is EXACTLY the serial trainer's counting, so
  * [[train]] reproduces `LangId.train` bit-for-bit there (pinned by
  * LangIdTrainSpec); the CPython twin recomputes the corpus counts.
  */
object LangIdTrain {

  private val gramsUdf = udf { text: String =>
    if (text == null) Array.empty[String] else LangId.grams(text).toArray
  }

  /** Distributed (lang, gram, n) counts — the sufficient statistic of the
    * multinomial model. */
  def gramCounts(df: DataFrame, langCol: String, textCol: String,
                 minCount: Long = 1L): DataFrame =
    df.select(col(langCol).as("lang"),
        explode(gramsUdf(col(textCol))).as("gram"))
      .groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)

  /** End-to-end: distributed counts → bounded collect → model. With
    * `minCount` = 1 and one document per language this equals
    * `LangId.train` exactly; `minCount` > 1 prunes both the vocabulary and
    * the smoothing totals (a documented, consistent deviation). */
  def train(df: DataFrame, langCol: String, textCol: String,
            minCount: Long = 1L, maxGrams: Int = 2000000): LangIdModel = {
    // cap the transfer BEFORE collecting: at most maxGrams+1 rows reach
    // the driver, so the bound fires as an exception, not an OOM
    val collected =
      gramCounts(df, langCol, textCol, minCount).limit(maxGrams + 1).collect()
    require(collected.length <= maxGrams,
      s"gram relation exceeds maxGrams=$maxGrams — " +
        "raise the bound or minCount (model assembly is driver-side)")
    require(collected.nonEmpty,
      "empty gram relation — nothing to train on (all text null/empty, or " +
        "minCount pruned every gram); a zero-language model cannot classify")
    val rows = collected.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    LangId.fromCounts(rows.map(_._1).distinct.sorted, rows)
  }
}
