package graft.spark.expressions

import graft.core.{LangId, NerTag, Perplexity, Quality, Scrub}
import graft.spark.Toxicity
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row kernel of the fused `page_stages` expression ([[PageStagesExpr]]).
  *
  * The expression stays INSIDE whole-stage codegen: the generated code
  * calls [[pageStages]] directly on the UTF8String, with no ScalaUDF shim,
  * no catalyst↔scala converters and no closure dispatch. Every kernel is
  * the `graft.core` call itself (the PII scrub is [[Scrub.scrubWithModeRaw]]
  * over the decoded chars), so golden-vector parity carries over unchanged.
  *
  * Registered as `page_stages` via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.spark.expressions.GraftExtensions`) or
  * [[GraftExtensions.install]] on an existing session.
  */
object ExprHelpers {
  // immutable singletons reused across rows (most web rows have zero hits;
  // consumers copy map/string data into their UnsafeRow before the next
  // row, so sharing is safe — the same contract Spark's own expressions use)
  private val emptyMapData =
    new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
      new GenericArrayData(Array.empty[Any]))
  // interned UTF-8 of the few distinct strings a row repeats (language
  // ids, drop reasons): no per-row copy
  private val interned =
    new java.util.concurrent.ConcurrentHashMap[String, UTF8String]()
  private def u8(s: String): UTF8String =
    interned.computeIfAbsent(s, UTF8String.fromString)

  /** A map column's data in `m`'s iteration order; String values as UTF-8. */
  private def mapData(m: collection.Map[String, Any]): ArrayBasedMapData = {
    if (m.isEmpty) return emptyMapData
    val k = new Array[Any](m.size)
    val v = new Array[Any](m.size)
    var i = 0
    m.foreach { case (a, b) =>
      k(i) = UTF8String.fromString(a)
      v(i) = b match { case s: String => UTF8String.fromString(s); case x => x }
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(k), new GenericArrayData(v))
  }

  private val emptyHits = new GenericArrayData(Array.empty[Any])
  private def hitsArray(hits: Seq[graft.core.Hit]): GenericArrayData =
    if (hits.isEmpty) emptyHits
    else new GenericArrayData(hits.map(h => new GenericInternalRow(Array[Any](
      UTF8String.fromString(h.kind), UTF8String.fromString(h.text),
      h.start, h.end, h.conf, UTF8String.fromString(h.reason)))).toArray[Any])

  /** Per-thread UTF-8 decode scratch: decoding the row's UTF8String into a
    * reused char buffer (instead of `toString`) removes the two largest
    * per-row allocations of the hot path — the String + its value array —
    * and, when the scrub changes nothing (most web rows), lets the output
    * forward the INPUT UTF8String with zero re-encode. */
  private final class Utf8Scratch {
    private var chars = new Array[Char](1 << 10)
    private val view = new graft.core.CharsView
    private val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    /** Decode `u` into the reused buffer. UTF-8 never yields more UTF-16
      * units than bytes (4-byte sequences → 2 units), so numBytes bounds
      * the buffer. Valid until the next call on this thread. */
    def decode(u: UTF8String): graft.core.CharsView = {
      val nBytes = u.numBytes()
      if (chars.length < nBytes)
        // next power of two, overflow-safe for ~GiB-scale strings (the
        // shifted value would wrap negative past 2^30 — grow exactly then)
        chars = new Array[Char](
          if (nBytes > (1 << 29)) nBytes
          else java.lang.Integer.highestOneBit(nBytes - 1) << 1)
      val cb = java.nio.CharBuffer.wrap(chars)
      // getByteBuffer wraps the backing array without copying; off-heap
      // backed strings (unsupported there) fall back to a byte copy
      val bb =
        try u.getByteBuffer
        catch { case _: UnsupportedOperationException =>
          java.nio.ByteBuffer.wrap(u.getBytes)
        }
      dec.reset()
      dec.decode(bb, cb, true)
      dec.flush(cb)
      view.set(chars, cb.position())
    }
  }
  private val scratch = ThreadLocal.withInitial[Utf8Scratch](() => new Utf8Scratch)
  private val EmptyView = new graft.core.CharsView

  /** The fused per-page hot path as a direct InternalRow producer: langid,
    * perplexity, quality metrics, the keep/drop decision
    * ([[Quality.decide]] under `quality`), scrub and, when a `toxicity`
    * bank is set, the blocklist count and mask over one decode of the
    * row. Models are the deterministic JVM-lazy defaults, built once per
    * executor from code; the ones that are not in code, a trained span
    * `tagger` and the toxicity bank (null when absent), arrive as
    * broadcasts.
    *
    * `policiesCsv`: comma-separated hit KINDS to scrub (the reference's
    * per-request `policies` form field, app/main.py:379); empty = all.
    * Pattern lists are filtered by the kind each pattern aliases as
    * (postal → address, the three name patterns → name). */
  def pageStages(text: UTF8String, mode: String, keyB64: String,
                 ns: String, policiesCsv: String, ner: Boolean,
                 tagger: Broadcast[NerTag.NerTagModel],
                 quality: Quality.Conf,
                 toxicity: Broadcast[Toxicity.LangBank],
                 toxicityMaxHits: Long): InternalRow = {
    // byte-level hot path: score a reused char view of the UTF-8 bytes —
    // no per-row String materialization (null text scores as empty)
    val t: graft.core.CharsView =
      if (text == null) EmptyView else scratch.get().decode(text)
    val (l, c) = LangId.default.classify(t)
    val p = Perplexity.default.perplexity(t)
    val m = Quality.metrics(t)
    // toxicity: the list of the row's OWN identified language, counted on
    // the input; lowest priority, so it only drops rows the rules keep
    val tox = if (toxicity == null) null else toxicity.value.matcherFor(l).orNull
    val nToxic = if (tox == null) 0L else tox.countIn(t)
    val decided = Quality.decide(m, p, quality)
    val (keep, reason) =
      if (decided._1 && nToxic > toxicityMaxHits) (false, "toxicity") else decided
    // ENHANCED security level (ner=true, main.py:241-245): one automaton
    // pass per row over the per-JVM default gazetteer model; its hits are
    // MERGED into the scrub span set (regex_hits.extend(ai_ner) semantics)
    // and also emitted as the model_hits relation. The automaton and the
    // merged scrub both scan the reused char view directly (hit text is
    // the dictionary entry, never a substring of the input), and the RAW
    // scrub result stays null-scrubbed ⇔ unchanged, so the single row
    // assembly below forwards the input when nothing matched. A trained
    // tagger's hits come AFTER the gazetteer's: Scrub.dedupSpans is a
    // stable (start, -len) sort, so on an identical span the dictionary
    // hit wins and the tagger only adds entities the dictionary lacks.
    val modelHits: Seq[graft.core.Hit] =
      if (!ner) Nil
      else {
        val gaz = graft.spark.NerSlot.defaultModel.hitsOf(t)
        if (tagger == null) gaz else gaz ++ tagger.value.hitsOf(t)
      }
    val d = Scrub.scrubWithModeRaw(mode, t, keyB64, ns, policiesCsv, modelHits)
    // the blocklist mask goes on top of the PII scrub output (the input
    // when the scrub changed nothing, which needs a mask only if the count
    // found a term), so survivors under a lenient toxicityMaxHits never
    // ship a listed term
    val out: String =
      if (tox == null || (d.scrubbed == null && nToxic == 0)) d.scrubbed
      else tox.scrubIn(if (d.scrubbed != null) d.scrubbed else t)
    // unchanged text (out == null): forward the input UTF8String — safe
    // because the consuming projection copies the struct into its
    // UnsafeRow before the source advances to the next row (the same
    // contract Spark's own substring/trim expressions rely on)
    val scrubbedOut: UTF8String =
      if (out != null) UTF8String.fromString(out)
      else if (text == null) UTF8String.EMPTY_UTF8
      else text
    val q = new GenericInternalRow(Array[Any](
      m.nChars, m.nWords, m.meanWordLen, m.stopwordRatio, m.symbolRatio,
      m.dupLineFrac, m.dupWordFrac, m.alphaWordRatio, m.maxWordLen, m.cjkRatio))
    new GenericInternalRow(Array[Any](
      u8(l), c, p, q,
      scrubbedOut, mapData(d.aliases), mapData(d.counts),
      hitsArray(modelHits), keep, u8(reason), nToxic))
  }
}

/** `page_stages(text, mode, key_b64, ns[, policies_csv[, ner]])` — the
  * whole fused pipeline stage (langid + perplexity + quality metrics +
  * keep/drop decision + scrub, plus model NER when `ner` and toxicity when
  * `toxicity` is set) as ONE native expression emitting the result struct
  * directly as an InternalRow.
  *
  * `tagger`, `quality`, `toxicity` and `toxicityMaxHits` are not SQL
  * arguments: `Pipeline.run` sets `tagger` to the broadcast of
  * `Conf.trainedNer` at an effective ENHANCED level (its hits join the
  * gazetteer's), `quality` to `Conf.quality`, the thresholds of the
  * `keep`/`drop_reason` fields, and `toxicity` to the broadcast
  * [[Toxicity.LangBank]] of `Conf.toxicityByLang` with its drop threshold.
  * SQL callers get the default thresholds and no toxicity.
  *
  * NOT null-intolerant: a null text scores as "" (and so drops as
  * too_short) — the default UnaryExpression null-propagation would instead
  * emit a null struct, whose null `keep` a filter downstream cannot tell
  * from a decision. */
case class PageStagesExpr(child: Expression, mode: String, keyB64: String,
                          ns: String, policiesCsv: String = "",
                          ner: Boolean = false,
                          tagger: Option[Broadcast[NerTag.NerTagModel]] = None,
                          quality: Quality.Conf = Quality.Conf(),
                          toxicity: Option[Broadcast[Toxicity.LangBank]] = None,
                          toxicityMaxHits: Long = 0L)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral

  override def dataType: DataType = PageStagesExpr.schema
  override def nullable: Boolean = false
  /** Declared NONDETERMINISTIC although the computation is pure: this is
    * the duplication guard, not a semantics statement (same idiom as the
    * sink's accumulator tap). Deterministic + expensive is a Catalyst
    * trap — CollapseProject inlines the expression into every struct-field
    * reference and predicate pushdown clones it into FilterExec, where
    * predicates get NO subexpression elimination. Measured on a 3M-doc
    * curation: `Pipeline.run(..).where(col("keep"))` evaluated the fused
    * stage ~19× per row (311 → 5,807 cpu-s). Nondeterminism pins the
    * expression to its own projection: one evaluation per row, everything
    * downstream reads struct fields. Values are identical either way, so
    * task retries are still safe. */
  override lazy val deterministic: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"page_stages requires a string argument, got ${child.dataType.catalogString}")
  override def eval(input: InternalRow): Any =
    ExprHelpers.pageStages(child.eval(input).asInstanceOf[UTF8String],
      mode, keyB64, ns, policiesCsv, ner, tagger.orNull, quality, toxicity.orNull,
      toxicityMaxHits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modeRef = ctx.addReferenceObj("mode", mode, "java.lang.String")
    val keyRef = ctx.addReferenceObj("keyB64", keyB64, "java.lang.String")
    val nsRef = ctx.addReferenceObj("ns", ns, "java.lang.String")
    val polRef = ctx.addReferenceObj("policiesCsv", policiesCsv, "java.lang.String")
    val taggerRef = ctx.addReferenceObj("tagger", tagger.orNull,
      "org.apache.spark.broadcast.Broadcast")
    val qualityRef = ctx.addReferenceObj("quality", quality, "graft.core.Quality$Conf")
    val toxicityRef = ctx.addReferenceObj("toxicity", toxicity.orNull,
      "org.apache.spark.broadcast.Broadcast")
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        InternalRow ${ev.value} = graft.spark.expressions.ExprHelpers.pageStages(
          ${c.isNull} ? null : ${c.value}, $modeRef, $keyRef, $nsRef, $polRef, $ner,
          $taggerRef, $qualityRef, $toxicityRef, ${toxicityMaxHits}L);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): PageStagesExpr =
    copy(child = newChild)
  override def prettyName: String = "page_stages"
}

object PageStagesExpr {
  /** Must mirror Quality.Metrics field-for-field — the pipeline output's
    * `quality` column and QualityTrain.scoreColumn read these names. */
  val qualitySchema: StructType = StructType(Seq(
    StructField("nChars", LongType, nullable = false),
    StructField("nWords", LongType, nullable = false),
    StructField("meanWordLen", DoubleType, nullable = false),
    StructField("stopwordRatio", DoubleType, nullable = false),
    StructField("symbolRatio", DoubleType, nullable = false),
    StructField("dupLineFrac", DoubleType, nullable = false),
    StructField("dupWordFrac", DoubleType, nullable = false),
    StructField("alphaWordRatio", DoubleType, nullable = false),
    StructField("maxWordLen", LongType, nullable = false),
    StructField("cjkRatio", DoubleType, nullable = false)))

  val hitSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("conf", DoubleType, nullable = false),
    StructField("reason", StringType, nullable = false)))

  val schema: StructType = StructType(Seq(
    StructField("lang_id", StringType, nullable = false),
    StructField("lang_conf", DoubleType, nullable = false),
    StructField("ppl", DoubleType, nullable = false),
    StructField("q", qualitySchema, nullable = false),
    // the PII scrub output, with the toxicity mask on top when a bank is set
    StructField("scrubbed", StringType, nullable = false),
    StructField("aliases", MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("counts", MapType(StringType, LongType, valueContainsNull = false), nullable = false),
    // model-NER hits (ENHANCED level only; empty array at MAXIMUM)
    StructField("model_hits", ArrayType(hitSchema, containsNull = false), nullable = false),
    // Quality.decide over `q` and `ppl`, then the toxicity drop: first
    // failing rule, "toxicity" past `toxicityMaxHits`, "" when kept
    StructField("keep", BooleanType, nullable = false),
    StructField("drop_reason", StringType, nullable = false),
    // accepted toxicity spans in the input (0 with no bank)
    StructField("n_toxic", LongType, nullable = false)))
}

/** Session-extension hook: `--conf spark.sql.extensions=graft.spark.expressions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.spark.expressions", name, usage)

  val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("page_stages", info("page_stages",
      "_FUNC_(text, mode, key_b64, ns[, policies_csv[, ner]]) - fused langid+perplexity+quality+scrub struct"),
      (args: Seq[Expression]) => {
        def litStr(i: Int, name: String): String = {
          val e = args(i)
          require(e.foldable, s"page_stages: $name must be a string literal")
          val v = e.eval()
          require(v != null, s"page_stages: $name must not be null")
          v.toString
        }
        PageStagesExpr(args.head, litStr(1, "mode"), litStr(2, "key_b64"),
          litStr(3, "ns"), if (args.length > 4) litStr(4, "policies_csv") else "",
          ner = args.length > 5 && litStr(5, "ner").toBoolean)
      }))

  /** Register on an already-built session (tests, notebooks). Idempotent:
    * registers only the names the session lacks, so calling it per job
    * (as `Pipeline.run` does) leaves an installed session untouched. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registrations.foreach { case (name, i, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) registry.registerFunction(id, i, builder)
    }
  }
}
