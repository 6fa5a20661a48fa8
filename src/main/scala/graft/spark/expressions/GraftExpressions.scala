package graft.spark.expressions

import graft.core.{LangId, Perplexity, Quality, RefAlias, Scrub, TextDedup}
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

/** Native Catalyst expressions for the hot text operators.
  *
  * Versus the ScalaUDF route these stay INSIDE whole-stage codegen: no
  * ScalaUDF shim, no catalyst↔scala converters, no closure dispatch — the
  * generated code calls a static JVM helper directly on the UTF8String.
  * The regex semantics are exactly `graft.core` (same compiled Patterns),
  * so golden-vector parity carries over unchanged.
  *
  * Registered under `scrub_tags` / `fingerprint64` / `simhash64` via
  * [[GraftExtensions]] (`spark.sql.extensions=graft.spark.expressions.GraftExtensions`)
  * or [[GraftExtensions.install]] on an existing session.
  */
object ExprHelpers {
  def scrubTags(s: UTF8String): UTF8String =
    UTF8String.fromString(Scrub.scrubTags(s.toString))
  def fingerprint64(s: UTF8String): Long = TextDedup.fingerprint(s.toString)
  def simhash64(s: UTF8String): Long = TextDedup.simHash(s.toString)

  // immutable singletons reused across rows (most web rows have zero hits;
  // consumers copy map/string data into their UnsafeRow before the next
  // row, so sharing is safe — the same contract Spark's own expressions use)
  private val emptyMapData =
    new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
      new GenericArrayData(Array.empty[Any]))
  private val langU8 =
    new java.util.concurrent.ConcurrentHashMap[String, UTF8String]()
  private def u8(s: String): UTF8String =
    langU8.computeIfAbsent(s, UTF8String.fromString)

  private def strMap(m: collection.Map[String, String]): ArrayBasedMapData = {
    if (m.isEmpty) return emptyMapData
    val k = new Array[Any](m.size)
    val v = new Array[Any](m.size)
    var i = 0
    m.foreach { case (a, b) =>
      k(i) = UTF8String.fromString(a); v(i) = UTF8String.fromString(b); i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(k), new GenericArrayData(v))
  }

  private def longMap(m: collection.Map[String, Long]): ArrayBasedMapData = {
    if (m.isEmpty) return emptyMapData
    val k = new Array[Any](m.size)
    val v = new Array[Any](m.size)
    var i = 0
    m.foreach { case (a, b) => k(i) = UTF8String.fromString(a); v(i) = b; i += 1 }
    new ArrayBasedMapData(new GenericArrayData(k), new GenericArrayData(v))
  }

  private val emptyHits = new GenericArrayData(Array.empty[Any])
  private def hitsArray(hits: Seq[graft.core.Hit]): GenericArrayData =
    if (hits.isEmpty) emptyHits
    else new GenericArrayData(hits.map(h => new GenericInternalRow(Array[Any](
      UTF8String.fromString(h.kind), UTF8String.fromString(h.text),
      h.start, h.end, h.conf, UTF8String.fromString(h.reason)))).toArray[Any])

  /** The fused per-page hot path as a direct InternalRow producer: same
    * core stages as [[graft.spark.PiiFunctions.pageStagesUdf]], minus the
    * ScalaUDF shim and the ExpressionEncoder round-trip (case class →
    * reflection converters → InternalRow). Models are the deterministic
    * JVM-lazy defaults — built once per executor from code, which is the
    * broadcast-equivalent for in-code models (a file-loaded model must use
    * the broadcast UDF variant instead). */
  /** `policiesCsv`: comma-separated hit KINDS to scrub (the reference's
    * per-request `policies` form field, app/main.py:379); empty = all.
    * Pattern lists are filtered by the kind each pattern aliases as
    * (postal → address, the three name patterns → name). */
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

  def pageStages(text: UTF8String, mode: String, keyB64: String,
                 ns: String, policiesCsv: String, ner: Boolean): InternalRow = {
    // byte-level hot path: score a reused char view of the UTF-8 bytes —
    // no per-row String materialization (null text scores as empty, same
    // as the UDF path)
    val t: graft.core.CharsView =
      if (text == null) EmptyView else scratch.get().decode(text)
    val (l, c) = LangId.default.classify(t)
    val p = Perplexity.default.perplexity(t)
    val m = Quality.metrics(t)
    // ENHANCED security level (ner=true, main.py:241-245): one automaton
    // pass per row over the per-JVM default gazetteer model; its hits are
    // MERGED into the scrub span set (regex_hits.extend(ai_ner) semantics)
    // and also emitted as the model_hits relation. The automaton and the
    // merged scrub both scan the reused char view directly (hit text is
    // the dictionary entry, never a substring of the input), and the RAW
    // scrub result stays null-scrubbed ⇔ unchanged on both paths, so the
    // single row assembly below forwards the input when nothing matched.
    val (d, modelHits: Seq[graft.core.Hit]) =
      if (!ner) (Scrub.scrubWithModeRaw(mode, t, keyB64, ns, policiesCsv), Nil)
      else {
        val hits = graft.spark.NerSlot.defaultModel.hitsOf(t)
        (Scrub.scrubWithModeNerRaw(mode, t, keyB64, ns, policiesCsv, hits), hits)
      }
    // unchanged scrub (scrubbed == null): forward the input UTF8String —
    // safe because the consuming projection copies the struct into its
    // UnsafeRow before the source advances to the next row (the same
    // contract Spark's own substring/trim expressions rely on)
    val scrubbedOut: UTF8String =
      if (d.scrubbed != null) UTF8String.fromString(d.scrubbed)
      else if (text == null) UTF8String.EMPTY_UTF8
      else text
    val q = new GenericInternalRow(Array[Any](
      m.nChars, m.nWords, m.meanWordLen, m.stopwordRatio, m.symbolRatio,
      m.dupLineFrac, m.dupWordFrac, m.alphaWordRatio, m.maxWordLen, m.cjkRatio))
    new GenericInternalRow(Array[Any](
      u8(l), c, p, q,
      scrubbedOut, strMap(d.aliases), longMap(d.counts),
      hitsArray(modelHits)))
  }
}

/** `page_stages(text, mode, key_b64, ns[, policies_csv])` — the whole fused
  * pipeline stage (langid + perplexity + quality metrics + scrub) as ONE
  * native expression emitting the result struct directly as an InternalRow.
  *
  * NOT null-intolerant: a null text scores as "" (and is then dropped as
  * too_short by the rule chain), exactly like the broadcast-UDF path — the
  * default UnaryExpression null-propagation would instead emit a null
  * struct, whose nulls fall through every `when()` in the keep/drop chain
  * and KEEP the corrupt row. */
case class PageStagesExpr(child: Expression, mode: String, keyB64: String,
                          ns: String, policiesCsv: String = "",
                          ner: Boolean = false)
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
    ExprHelpers.pageStages(
      child.eval(input).asInstanceOf[UTF8String], mode, keyB64, ns, policiesCsv, ner)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modeRef = ctx.addReferenceObj("mode", mode, "java.lang.String")
    val keyRef = ctx.addReferenceObj("keyB64", keyB64, "java.lang.String")
    val nsRef = ctx.addReferenceObj("ns", ns, "java.lang.String")
    val polRef = ctx.addReferenceObj("policiesCsv", policiesCsv, "java.lang.String")
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        InternalRow ${ev.value} = graft.spark.expressions.ExprHelpers.pageStages(
          ${c.isNull} ? null : ${c.value}, $modeRef, $keyRef, $nsRef, $polRef, $ner);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): PageStagesExpr =
    copy(child = newChild)
  override def prettyName: String = "page_stages"
}

object PageStagesExpr {
  /** Must mirror PiiFunctions.PageStages / Quality.Metrics field-for-field —
    * Pipeline.run selects subfields by these names. */
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
    StructField("scrubbed", StringType, nullable = false),
    StructField("aliases", MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("counts", MapType(StringType, LongType, valueContainsNull = false), nullable = false),
    // model-NER hits (ENHANCED level only; empty array at MAXIMUM)
    StructField("model_hits", ArrayType(hitSchema, containsNull = false), nullable = false)))
}

abstract class GraftUnaryStringExpression extends UnaryExpression
    with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")
  /** Fully-qualified static call target, e.g. "...ExprHelpers.scrubTags". */
  protected def helper: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$helper($c)")
}

/** `scrub_tags(text)` — single-pass union-regex scrub with fixed tags. */
case class ScrubTagsExpr(child: Expression) extends GraftUnaryStringExpression {
  override def dataType: DataType = StringType
  override protected def helper: String =
    "graft.spark.expressions.ExprHelpers.scrubTags"
  override def nullSafeEval(input: Any): Any =
    ExprHelpers.scrubTags(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): ScrubTagsExpr =
    copy(child = newChild)
  override def prettyName: String = "scrub_tags"
}

/** `fingerprint64(text)` — normalized rolling-hash document fingerprint. */
case class Fingerprint64Expr(child: Expression) extends GraftUnaryStringExpression {
  override def dataType: DataType = LongType
  override protected def helper: String =
    "graft.spark.expressions.ExprHelpers.fingerprint64"
  override def nullSafeEval(input: Any): Any =
    ExprHelpers.fingerprint64(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Fingerprint64Expr =
    copy(child = newChild)
  override def prettyName: String = "fingerprint64"
}

/** `simhash64(text)` — 64-bit SimHash over word unigrams. */
case class SimHash64Expr(child: Expression) extends GraftUnaryStringExpression {
  override def dataType: DataType = LongType
  override protected def helper: String =
    "graft.spark.expressions.ExprHelpers.simhash64"
  override def nullSafeEval(input: Any): Any =
    ExprHelpers.simhash64(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
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
    ("scrub_tags", info("scrub_tags", "_FUNC_(text) - single-pass PII scrub with <KIND> tags"),
      (args: Seq[Expression]) => ScrubTagsExpr(args.head)),
    ("fingerprint64", info("fingerprint64", "_FUNC_(text) - normalized doc fingerprint"),
      (args: Seq[Expression]) => Fingerprint64Expr(args.head)),
    ("simhash64", info("simhash64", "_FUNC_(text) - 64-bit simhash"),
      (args: Seq[Expression]) => SimHash64Expr(args.head)),
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
