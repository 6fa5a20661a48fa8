package graft.spark

import graft.core._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{filter, lit, lower, split, udf}

/** Column-level surface for the core text operators that the relational
  * queries, dedup and streaming call one at a time. (The pipeline's fused
  * per-page stage is the native `page_stages` expression,
  * [[graft.spark.expressions.PageStagesExpr]], not a UDF.)
  *
  * Each UDF is a deterministic Scala UDF over the pure `graft.core`
  * functions (the reference's per-request Python logic collapsed into
  * per-row JVM calls — SURVEY.md §3). The scrub's matcher tables and the
  * models live in JVM-level vals, built once per executor — the Spark analog
  * of the reference's module-level precompiled regexes and `lru_cache`d
  * models (app/detectors.py:15-25,64-74); no regex runs in a scrub or
  * detector UDF. None is marked `asNondeterministic`:
  * determinism lets Catalyst freely reorder and cache them.
  *
  * Where a stage carries real model state (langid, perplexity) the
  * broadcast-taking variants ship the model once per executor instead of
  * serializing it into every task closure.
  */
object PiiFunctions {

  /** Whitespace tokens of a text column, lowercased, empties dropped —
    * the Spark-expression twin of `Quality.tokens` (and of the DuckDB
    * oracle form `list_filter(string_split_regex(lower(text), '\s+'), ...)`).
    * The ONE shared definition: SparkEntry's relational queries and the
    * trainers must tokenize identically or twin parity silently drifts. */
  def tokensCol(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => t =!= lit(""))

  /** detect_pii: full detector stack → array<struct Hit>. */
  val detectAllUdf = udf((text: String) =>
    if (text == null) Vector.empty[Hit] else Detect.detectAll(text))

  /** classify_by_regex only (email/phone/amount/id). */
  val classifyUdf = udf((text: String) =>
    if (text == null) Vector.empty[Hit] else Detect.classifyByRegex(text))

  /** Fixed-tag scrub over the reference's 4-pattern union (oracle-friendly). */
  val scrubTagsUdf = udf((text: String) =>
    if (text == null) null else Scrub.scrubTags(text))

  /** Line-scope fixed-tag scrub (reference line mode, app/main.py:404-414). */
  val scrubTagsLinesUdf = udf((text: String) =>
    if (text == null) null else Scrub.scrubTagsLines(text))

  /** Dictionary scrub restricted to the reference's 4-pattern union
    * (email/phone/amount/id) — the SQL-oracle-checkable variant. */
  val scrubDictRefOrderUdf = udf((text: String) =>
    if (text == null) null else Scrub.scrubDict(text, Scrub.ReferenceOrder))

  /** Reference-alias scrub (HMAC + MT19937, byte-identical phone/amount/id). */
  def scrubRefUdf(keyB64: String, ns: String) =
    udf((text: String) => if (text == null) null else Scrub.scrubRef(text, keyB64, ns))

  final case class LangGuess(lang: String, conf: Double)

  /** Language ID with an explicitly broadcast model. */
  def langIdUdf(model: Broadcast[LangIdModel]) =
    udf { (text: String) =>
      if (text == null) LangGuess("und", 0.0)
      else { val (l, c) = model.value.classify(text); LangGuess(l, c) }
    }

  /** Perplexity with an explicitly broadcast model. */
  def perplexityUdf(model: Broadcast[PerplexityModel]) =
    udf((text: String) =>
      if (text == null) Perplexity.MaxPpl else model.value.perplexity(text))

  /** CCNet-style per-language perplexity: each doc scored by the LM of its
    * language (broadcast bank of models, en fallback). */
  def perplexityLangUdf(bank: Broadcast[Map[String, PerplexityModel]]) =
    udf { (lang: String, text: String) =>
      if (text == null) Perplexity.MaxPpl
      else bank.value.getOrElse(if (lang == null) "en" else lang,
        bank.value("en")).perplexity(text)
    }

  val minHashUdf = udf((text: String, k: Int, numHashes: Int) =>
    TextDedup.minHash(if (text == null) "" else text, k, numHashes))

  val bandKeysUdf = udf((sig: Seq[Int], bands: Int) =>
    TextDedup.bandKeys(sig.toArray, bands))

  val sigSimUdf = udf((a: Seq[Int], b: Seq[Int]) =>
    TextDedup.sigSimilarity(a.toArray, b.toArray))

  val simHashUdf = udf((text: String) =>
    TextDedup.simHash(if (text == null) "" else text))

  val fingerprintUdf = udf((text: String) =>
    TextDedup.fingerprint(if (text == null) "" else text))

  val shinglesUdf = udf((text: String, k: Int) =>
    TextDedup.shingles(if (text == null) "" else text, k))
}
