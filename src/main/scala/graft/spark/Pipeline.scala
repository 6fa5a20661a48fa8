package graft.spark

import graft.core.Quality
import graft.spark.expressions.PageStagesExpr
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.graft.ExprColumn
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship pipeline: pages → langid → perplexity → quality rules →
  * PII scrub → keep/drop — one narrow stage from scan to sink.
  *
  * Design (SURVEY.md §3.1, §4): the per-row text work over `graft.core` is
  * ONE native codegen expression, `page_stages`
  * ([[graft.spark.expressions.PageStagesExpr]]), whose models are per-JVM
  * defaults built from code (a trained NER tagger, the one model that is
  * not, is broadcast into it, as is the optional toxicity bank). The
  * keep/drop decision is made inside that expression: [[Quality.decide]]
  * under `Conf.quality`, then the optional toxicity drop; only the
  * optional quality-model drop extends its reason here.
  * The only wide operation in a full run is the salted repartition before
  * the partitioned write.
  */
object Pipeline {

  /** Security level enum, ported from the reference's 4-level surface
    * (security_manager.py:17-22): MAXIMUM = fully offline rule-only
    * processing; ENHANCED = model-assisted path enabled. HIGH and STANDARD
    * exist for config compatibility and COLLAPSE exactly as the reference's
    * deprecated_map does (security_manager.py:475-486): HIGH→MAXIMUM,
    * STANDARD→ENHANCED. The behavioral switch is the reference's
    * `current_level != MAXIMUM → add NER` (main.py:241-245), realized here
    * at plan-construction time: the NER column is in the plan only for an
    * effective ENHANCED level. */
  sealed abstract class SecurityLevel(val name: String)
  object SecurityLevel {
    case object Maximum extends SecurityLevel("maximum")
    case object High extends SecurityLevel("high")
    case object Standard extends SecurityLevel("standard")
    case object Enhanced extends SecurityLevel("enhanced")

    val All: Seq[SecurityLevel] = Seq(Maximum, High, Standard, Enhanced)

    def parse(s: String): SecurityLevel =
      All.find(_.name == s.toLowerCase)
        .getOrElse(sys.error(s"unknown security level: $s"))

    /** The reference's deprecated_map collapse. */
    def collapse(l: SecurityLevel): SecurityLevel = l match {
      case High => Maximum
      case Standard => Enhanced
      case other => other
    }
  }

  final case class Conf(
      keyB64: String = "Z3JhZnQtc3BhcmstcGlpLWRlZmF1bHQta2V5IQ==", // "graft-spark-pii-default-key!"
      ns: String = "tenant-a",
      /** Thresholds of the rule-based keep/drop decision, made by
        * [[Quality.decide]] inside the fused stage. */
      quality: Quality.Conf = Quality.Conf(),
      /** "dict" = north-star <TYPE_n> per-doc dictionary (full entity set);
        * "ref"  = reference HMAC+MT19937 aliases (byte-identical
        *          phone/amount/id, app/alias.py semantics);
        * "tags" = fixed <KIND> tokens. */
      scrubMode: String = "dict",
      /** Reference per-request `policies` (app/main.py:379): hit kinds to
        * scrub (email/phone/amount/id/name/address). Empty = all. */
      policies: Set[String] = Set.empty,
      /** Security level (see [[SecurityLevel]]): MAXIMUM (default) keeps
        * the plan rule-only; an effective ENHANCED level adds model NER to
        * the fused stage and the `model_hits` column at plan-construction
        * time — when off, neither is in the plan at all. */
      security: SecurityLevel = SecurityLevel.Maximum,
      numBuckets: Int = 64,
      saltBuckets: Int = 8,
      /** Optional TRAINED span tagger ([[NerTagTrain.train]]) merged into
        * the model-NER slot at an effective ENHANCED level — detects
        * unseen entities the gazetteer cannot. Broadcast once per job into
        * the fused stage, whose gazetteer hits come first; ignored at
        * MAXIMUM, like the gazetteer. */
      trainedNer: Option[graft.core.NerTag.NerTagModel] = None,
      /** Docs whose text hits their toxicity list more than this many
        * times drop with reason "toxicity" (0 = C4's drop on any hit). */
      toxicityMaxHits: Long = 0L,
      /** Optional toxicity blocklists ([[Toxicity]], C4 semantics), PER
        * LANGUAGE (the C4/UT1 production shape): each doc is screened
        * against the list of its OWN identified language (`lang_id` from
        * this pipeline's langid stage), via one broadcast
        * [[Toxicity.LangBank]] that the fused stage counts and masks with
        * on the decoded row. Key "*" is the fallback for languages
        * without a list (omit it to skip them); one list for every doc is
        * `Map("*" -> list)`. When set, docs over `toxicityMaxHits` drop
        * with reason "toxicity" (evaluated AFTER every reference-derived
        * rule, so their drop_reason attribution is unchanged), the output
        * text is masked and an `n_toxic` column is surfaced. Default off —
        * the reference pipeline is PII-only. */
      toxicityByLang: Option[Map[String, Seq[String]]] = None,
      /** Optional TRAINED quality classifier ([[QualityTrain.train]] /
        * [[QualityTrain.trainNg]] weights): when set, every doc gets a
        * scored `model_keep` column and docs the model rejects (but no
        * heuristic rule caught) drop with reason "quality_model" — the
        * CCNet-style learned filter layered over the rule cascade. The
        * 12-weight model scores NATIVELY off the already-computed quality
        * struct + ppl (codegen, no extra text pass); the 28-weight
        * hashed-n-gram model re-tokenizes in a broadcast-weights UDF.
        * Lowest priority (after toxicity), so all reference-derived
        * drop_reason attributions are unchanged. Default off. */
      qualityModel: Option[Array[Double]] = None) {
    /** Effective level after the reference's deprecated_map collapse. */
    def effectiveLevel: SecurityLevel = SecurityLevel.collapse(security)
    /** main.py:241-245: model NER runs iff effective level != MAXIMUM. */
    def modelNer: Boolean = effectiveLevel != SecurityLevel.Maximum
  }

  /** Adds lang_id/lang_conf, ppl, quality struct, scrub results, keep and
    * drop_reason to the input pages frame. Narrow (no shuffle). */
  def run(spark: SparkSession, pages: DataFrame, conf: Conf = Conf()): DataFrame = {
    val tagger =
      if (conf.modelNer) conf.trainedNer.map(spark.sparkContext.broadcast(_))
      else None
    val toxicity = conf.toxicityByLang.map(m =>
      spark.sparkContext.broadcast(Toxicity.LangBank(m)))
    val stagesCol = ExprColumn(PageStagesExpr(
      UnresolvedAttribute("text"), conf.scrubMode, conf.keyB64,
      conf.ns, conf.policies.toSeq.sorted.mkString(","), conf.modelNer, tagger,
      conf.quality, toxicity, conf.toxicityMaxHits))

    // one projection computes the fused stage; everything after reads its
    // struct fields (the expression is nondeterministic, so Catalyst never
    // inlines it into the projections above)
    val staged = pages.select(col("url"), col("warc_ts"), col("lang"), col("text"),
      stagesCol.as("r"))

    // trained quality model (CCNet-style learned filter; see Conf docs):
    // materialized as the `model_keep` column of a projection of its own,
    // so the drop chain and the output share one computation; the
    // lowest-priority drop, only where the fused stage kept the row
    val modelKeep: Option[Column] = conf.qualityModel.map { w =>
      val mk =
        if (w.length == QualityTrain.NF)
          QualityTrain.modelKeepColumn(w, col("r.q"), col("r.ppl"))
        else {
          require(w.length == QualityTrain.NFNg,
            s"qualityModel must have ${QualityTrain.NF} or " +
              s"${QualityTrain.NFNg} weights, got ${w.length}")
          val bw = pages.sparkSession.sparkContext.broadcast(w)
          // nondeterministic = duplication guard (the page_stages
          // lesson): this re-tokenizes, and the drop chain references it
          val mkUdf = udf { (t: String, ppl: Double) =>
            val text = if (t == null) "" else t
            QualityTrain.predictKeep(bw.value,
              QualityTrain.featurizeNg(text, ppl)._1)
          }.asNondeterministic()
          mkUdf(col("text"), col("r.ppl"))
        }
      mk.as("model_keep")
    }
    val dropReason =
      if (modelKeep.isEmpty) col("r.drop_reason")
      else when(col("r.drop_reason") =!= lit(""), col("r.drop_reason"))
        .when(!col("model_keep"), "quality_model")
        .otherwise("")
    val scored = modelKeep.fold(staged)(mk => staged.select(col("*"), mk))

    // model-assisted NER (ENHANCED level, main.py:241-245): the hits are
    // computed INSIDE the fused stage (one automaton pass per row), merged
    // into the scrubbed text + n_hits there, and surfaced as a column only
    // when the level enables them — at MAXIMUM the field is pruned away.
    // `n_toxic` likewise only when a toxicity bank is set.
    val nerCols =
      if (conf.modelNer) Seq(col("r.model_hits").as("model_hits")) else Seq.empty
    scored.select(Seq(
      col("url"), col("warc_ts"), col("lang").as("lang_claimed"),
      col("r.lang_id").as("lang_id"), col("r.lang_conf").as("lang_conf"),
      col("r.ppl").as("ppl"), col("r.q").as("quality"),
      (if (modelKeep.isEmpty) col("r.keep") else dropReason === lit("")).as("keep"),
      dropReason.as("drop_reason"),
      col("r.scrubbed").as("scrubbed_text"),
      col("r.aliases").as("alias_dict"),
      col("r.counts").as("n_hits")) ++ nerCols ++
      toxicity.map(_ => col("r.n_toxic").as("n_toxic")) ++
      modelKeep.map(_ => col("model_keep")): _*)
  }

  /** Training-pipeline order: exact-dedup the crawl BEFORE paying for
    * scoring/scrub. Representative = lexicographically-first url per
    * normalized-text fingerprint. Shape chosen for skew safety: a
    * `groupBy(fp).agg(min(url))` (map-side partial combine, so a viral
    * duplicated page cannot hot-key a reducer) followed by a left-semi join
    * — rather than a window over fp, which would funnel every copy of a hot
    * fingerprint through one task. */
  def runDeduped(spark: SparkSession, pages: DataFrame,
                 conf: Conf = Conf()): DataFrame = {
    val withFp = pages.withColumn("fp", PiiFunctions.fingerprintUdf(col("text")))
    val reps = withFp.groupBy(col("fp")).agg(min(col("url")).as("url"))
    val survivors = withFp
      .join(reps, Seq("fp", "url"), "left_semi")
      .drop("fp")
    run(spark, survivors, conf)
  }

  /** Host of a url (partition/skew key). */
  def hostCol(url: Column): Column = regexp_extract(url, "://([^/]+)", 1)

  /** Deterministic output bucket: hash of host, NOT of url, so one crawl
    * host's pages land together (Iceberg-style layout), with a salt column to
    * split hot hosts across tasks (north_rule skew handling). */
  def withBucket(df: DataFrame, conf: Conf = Conf()): DataFrame =
    df.withColumn("part_bucket", pmod(hash(hostCol(col("url"))), lit(conf.numBuckets)))

  /** Salted repartition then partitioned write: tasks are keyed by
    * (bucket, salt) so a Zipf-hot host spreads over `saltBuckets` tasks while
    * files stay partitioned by bucket only. `numPartitions = 0` defers to
    * `spark.sql.shuffle.partitions` (the cluster-sized default). */
  def salted(df: DataFrame, conf: Conf = Conf(), numPartitions: Int = 0): DataFrame = {
    val keys = Seq(col("part_bucket"), pmod(hash(col("url")), lit(conf.saltBuckets)))
    if (numPartitions > 0) df.repartition(numPartitions, keys: _*)
    else df.repartition(keys: _*)
  }
}
