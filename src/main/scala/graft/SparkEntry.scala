package graft

import graft.core.Quality
import graft.spark.{Ann, DataGen, Dedup, Multimodal, Pipeline, PiiFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7.5): one named query per implemented
  * operator + a DuckDB-equivalent oracle where the op is SQL-expressible.
  *
  * Oracle-parity rules used throughout (the driver hashes values after
  * sorting columns by name):
  *  - every aggregate/computed column is aliased identically on both sides;
  *  - ratios are emitted as `floor(1000.0 * a / b)` integers — both engines
  *    do the identical IEEE double divide, so no float-hash drift;
  *  - float sums are per-row `floor(x*100)` cents summed as integers —
  *    summation-order independent;
  *  - embeddings are quantized `floor(double(x)*1000)` before dot products;
  *  - PII-bearing and duplicate-bearing inputs are SYNTHESIZED INSIDE the
  *    query from `documents` with deterministic SQL both engines share
  *    (the raw table has neither PII nor dups, which would make the checks
  *    vacuous).
  */
object SparkEntry {

  // ---- shared input builders (Spark side) --------------------------------

  /** Streaming-fixture input parquet, generated ONCE per JVM: the timed
    * body of `q_stream_pipeline` previously generated its own 2000-row
    * fixture inside the measurement, so the bench row measured fixture IO
    * + checkpoint machinery and whipsawed 5–15 s across invocations.
    * Benchmarks call [[prewarmStreamFixture]] before timing so the timed
    * body is the streaming round trip only. */
  @volatile private var streamFixture: String = _
  private def streamFixtureDir(s: SparkSession): String = synchronized {
    if (streamFixture == null) {
      val in = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
      // ONE part file (rows identical, deterministic per id): the file
      // streaming source lists and plans per file, and the AvailableNow
      // round trip then runs one source task writing ≤ numBuckets output
      // files instead of 32 tasks × buckets tiny files
      DataGen.pages(s, 2000).toDF().coalesce(1).write.mode("overwrite").parquet(in)
      streamFixture = in
    }
    streamFixture
  }

  /** Generate the streaming input fixture outside any timed window. */
  def prewarmStreamFixture(s: SparkSession): Unit = { streamFixtureDir(s); () }

  /** Deterministic url-fetch fixture (absolute path — the driver's DuckDB
    * oracle reads the same files from an unknown cwd): plain ASCII
    * tag-free files, so HtmlText.extract is the identity and the oracle
    * can compare content verbatim. Rewritten (same bytes) on every call. */
  private def urlFetchFixtureDir(): String = {
    val dir = java.nio.file.Paths.get("/tmp/graft_gate_urlfetch")
    java.nio.file.Files.createDirectories(dir)
    val urls = (0 until 40).map { i =>
      val body =
        (s"graft url fetch fixture page $i payload ${i * i} end\n" * (1 + i % 3))
      val f = dir.resolve(f"f$i%02d.txt")
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      "file://" + f.toString
    }
    java.nio.file.Files.write(dir.resolve("manifest.txt"),
      urls.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  /** Blocklist for the streaming gate row: DataGen filler words that occur
    * in a SUBSET of generated pages (kappa: line 10+ of clean prose; rho:
    * long docs only), so the toxicity extension fires on real pages
    * without dropping everything (the pool prose contains no default-list
    * words — a default-list run would pin an all-zeros vacuous row).
    * Twin: gen_expected_pipeline.py TOX. */
  private val StreamToxList = Seq("kappa", "rho")

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")

  /** documents with deterministic planted PII (mirrors `piiCte`). */
  private def docsPii(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    docs(s, dir).withColumn("text", concat(
      col("text"),
      when(id % 3 =!= 0, concat(lit(" contact u"), id.cast("string"), lit("@ex.com")))
        .otherwise(lit("")),
      when(id % 2 === 0, concat(lit(" call 0"), (id % 9 + 1).cast("string"),
        lit("-1234-"), (id % 9000 + 1000).cast("string"))).otherwise(lit("")),
      when(id % 5 < 2, concat(lit(" pay ¥"), (id % 9 + 1).cast("string"), lit(","),
        lpad((id % 1000).cast("string"), 3, "0"))).otherwise(lit("")),
      when(id % 7 < 3, concat(lit(" ref ACC-"), (id % 90000 + 10000).cast("string")))
        .otherwise(lit(""))))
  }

  /** documents with planted gazetteer entities (mirrors `nerCte`). */
  private def docsNer(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    docs(s, dir).withColumn("text", concat(
      col("text"),
      when(id % 4 === 0, lit(" 山田太郎")).otherwise(lit("")),
      when(id % 6 === 0, lit(" Example Corp")).otherwise(lit("")),
      when(id % 5 === 0, lit(" 東京都")).otherwise(lit(""))))
  }

  /** documents with BOTH planted PII and planted gazetteer entities — the
    * ENHANCED-scrub corpus, where regex spans and model spans coexist and
    * the merge has to resolve overlaps (twin: gen_expected.py planted_enh). */
  private def docsNerPii(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    docsPii(s, dir).withColumn("text", concat(
      col("text"),
      when(id % 4 === 0, lit(" 山田太郎")).otherwise(lit("")),
      when(id % 6 === 0, lit(" Example Corp")).otherwise(lit("")),
      when(id % 5 === 0, lit(" 東京都")).otherwise(lit(""))))
  }

  /** documents with planted exact + near duplicates (mirrors `dedupCte`). */
  private def docsDedup(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    base
      .unionAll(base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      .unionAll(base.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zz yy xx")).as("text")))
  }

  // ---- shared SQL fragments (DuckDB side) ---------------------------------

  private val piiCte =
    "WITH docs AS (SELECT doc_id, text" +
      " || CASE WHEN doc_id % 3 <> 0 THEN ' contact u' || doc_id || '@ex.com' ELSE '' END" +
      " || CASE WHEN doc_id % 2 = 0 THEN ' call 0' || (doc_id % 9 + 1) || '-1234-' || (doc_id % 9000 + 1000) ELSE '' END" +
      " || CASE WHEN doc_id % 5 < 2 THEN ' pay ¥' || (doc_id % 9 + 1) || ',' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ELSE '' END" +
      " || CASE WHEN doc_id % 7 < 3 THEN ' ref ACC-' || (doc_id % 90000 + 10000) ELSE '' END" +
      " AS text, lang, source FROM documents)"

  private val dedupCte =
    "WITH ddocs AS (SELECT doc_id, text FROM documents" +
      " UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0" +
      " UNION ALL SELECT doc_id + 1000000, text || ' zz yy xx' FROM documents WHERE doc_id % 7 = 0)"

  private val reEmail = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val rePhone = """(?:0\d{1,4}-\d{1,4}-\d{3,4})|(?:\+81-\d{1,4}-\d{1,4}-\d{3,4})"""
  private val reAmount = """(?:¥|JPY)?\s?\d{1,3}(?:,\d{3})+"""
  private val reId = """\b(?:ACC|USR|ORD)-\d{4,6}\b"""

  // whitespace tokens of lower(text), empties dropped — Spark expression twin
  // of DuckDB `list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '')`
  private def toksCol: Column =
    graft.spark.PiiFunctions.tokensCol(col("text"))

  /** The SQL-twin keep heuristic shared by q_keep_stats and
    * q_source_reputation (mirrors the DuckDB oracle expression). */
  private def withKeepHeur(df: DataFrame): DataFrame =
    df.withColumn("t", toksCol)
      .withColumn("n_words", size(col("t")).cast("long"))
      .withColumn("stop_cnt",
        size(filter(col("t"), t => array_contains(typedLit(stopList), t))).cast("long"))
      .withColumn("sym_cnt",
        length(regexp_replace(col("text"), "[\\p{L}\\p{N}\\s]", "")).cast("long"))
      .withColumn("distw_milli", when(col("n_words") === 0, 1000L).otherwise(
        floor(lit(1000.0) * size(array_distinct(col("t"))) / col("n_words"))))
      .withColumn("keep_heur",
        col("n_words") >= 5 && col("stop_cnt") * 100 >= col("n_words") &&
          col("sym_cnt") * 10 <= length(col("text")) && col("distw_milli") >= 50)

  private val stopList: Seq[String] = Quality.Stopwords.toSeq.sorted
  private val stopSqlList: String = stopList.map(w => s"'$w'").mkString("[", ", ", "]")

  // ---- flagship ------------------------------------------------------------

  /** Flagship: the full quality-filter + scrub pipeline over a generated
    * Common-Crawl-style pages table (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.run(spark, DataGen.pages(spark, 2000).toDF())

  // ---- queries -------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- detection / scrub (SURVEY ops 7, 8, 18, 23, 24) --
    "q_detect_counts" -> ((s, dir) =>
      docsPii(s, dir)
        .select(explode(PiiFunctions.classifyUdf(col("text"))).as("h"))
        .groupBy(col("h.kind").as("kind")).agg(count(lit(1)).as("n"))),

    "q_scrub_tag" -> ((s, dir) =>
      docsPii(s, dir).select(col("doc_id"),
        PiiFunctions.scrubTagsUdf(col("text")).as("scrubbed"))),

    "q_scrub_dict_stats" -> ((s, dir) => {
      val r = docsPii(s, dir).select(col("doc_id"),
        PiiFunctions.scrubDictRefOrderUdf(col("text")).as("r"))
      r.select(col("doc_id"),
        coalesce(element_at(col("r.counts"), "email"), lit(0L)).as("n_email"),
        coalesce(element_at(col("r.counts"), "phone"), lit(0L)).as("n_phone"),
        coalesce(element_at(col("r.counts"), "amount"), lit(0L)).as("n_amount"),
        coalesce(element_at(col("r.counts"), "id"), lit(0L)).as("n_id"),
        size(col("r.aliases")).cast("long").as("n_alias"))
    }),

    "q_pii_found" -> ((s, dir) =>
      docsPii(s, dir).groupBy(col("source"))
        .agg(sum(when(size(PiiFunctions.classifyUdf(col("text"))) > 0, 1L)
          .otherwise(0L)).as("n_pii"), count(lit(1)).as("n"))),

    // -- quality rules (north-star heuristics; SURVEY §7.2 step 4) --
    "q_quality" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), col("text"))
        .withColumn("t", toksCol)
        .select(
          col("doc_id"),
          size(col("t")).cast("long").as("n_words"),
          size(filter(col("t"), t => array_contains(typedLit(stopList), t)))
            .cast("long").as("stop_cnt"),
          length(regexp_replace(col("text"), "[\\p{L}\\p{N}\\s]", ""))
            .cast("long").as("sym_cnt"),
          when(size(col("t")) === 0, 1000L).otherwise(
            floor(lit(1000.0) * size(array_distinct(col("t"))) / size(col("t"))))
            .as("distw_milli"))),

    "q_keep_stats" -> ((s, dir) =>
      withKeepHeur(docs(s, dir).select(col("lang"), col("text")))
        .groupBy(col("lang"), col("keep_heur")).agg(count(lit(1)).as("n"))),

    // GOPHER REPETITION RULES (§A1.1): top-n-gram + duplicated-n-gram
    // character fractions per doc — narrow pass, CPython twin
    "q_gopher_ngrams" -> ((s, dir) => {
      val g = udf { t: String =>
        val toks = graft.core.Quality.tokens(if (t == null) "" else t)
        import graft.core.GopherRepetition._
        (topNgramCharFracMilli(toks, 2), topNgramCharFracMilli(toks, 3),
          topNgramCharFracMilli(toks, 4), dupNgramCharFracMilli(toks, 5),
          dupNgramCharFracMilli(toks, 10))
      }
      docs(s, dir).select(col("doc_id"), g(col("text")).as("g"))
        .select(col("doc_id"), col("g._1").as("top2_milli"),
          col("g._2").as("top3_milli"), col("g._3").as("top4_milli"),
          col("g._4").as("dup5_milli"), col("g._5").as("dup10_milli"))
    }),

    // SOURCE REPUTATION (C4/RefinedWeb host-level stage): aggregate the
    // per-doc keep signal by source, block low-keep-rate sources — one
    // skew-safe hash-agg, fully SQL-oracle-able
    "q_source_reputation" -> ((s, dir) =>
      graft.spark.WebOps.sourceReputation(
        withKeepHeur(docs(s, dir).select(col("source"), col("text"))),
        "source", "keep_heur")),

    // URL canonicalization (the key URL-level dedup joins on): messy
    // variants synthesized deterministically from doc_id on BOTH sides —
    // uppercase scheme/host, default + explicit ports, tracking params
    // interleaved with real ones, fragments, bare-slash paths
    "q_url_canon" -> ((s, dir) => {
      val id = col("doc_id")
      val messy = concat(
        lit("HTTPS://Host-"), (id % 50).cast("string"), lit(".Example"),
        when(id % 4 === 0, ":443").when(id % 4 === 1, ":8080").otherwise(""),
        when(id % 3 === 0, lit("/"))
          .otherwise(concat(lit("/p/"), id.cast("string"))),
        when(id % 2 === 0, concat(lit("?utm_source=x&id="), id.cast("string")))
          .when(id % 7 === 0, lit("?a=1&utm_campaign=z&b=2"))
          .otherwise(lit("")),
        when(id % 6 === 0, lit("#frag")).otherwise(lit("")))
      docs(s, dir).select(col("doc_id"),
        graft.spark.WebOps.canonicalUrl(messy).as("canon_url"))
    }),

    // token-budget sharding (shard-manifest step before tokenized training
    // data is written): shard = floor(prefix_tokens_before / budget) in
    // doc-id order — computed with the two-phase distributed prefix sum
    // (range partitions + broadcast offsets), NEVER a one-reducer global
    // window; the oracle IS that naive window, so the scalable shape is
    // verified against the textbook definition
    "q_token_shards" -> ((s, dir) =>
      graft.spark.WebOps.tokenShards(
        docs(s, dir).select(col("doc_id"),
          size(toksCol).cast("long").as("n")),
        "doc_id", "n", budget = 10000L)),

    // CCNet head/middle/tail: per-language perplexity terciles (the bucket
    // CCNet keeps/samples by). Exact-rank ntile over a per-lang window —
    // fine to ~100s of languages at moderate skew, and the oracle-able
    // form; at 100 TB production buckets by SAMPLED per-lang threshold
    // values broadcast to a narrow comparison (CCNet's own recipe), which
    // differs from ntile only where a tie straddles a boundary
    "q_ccnet_buckets" -> ((s, dir) => {
      val b = s.sparkContext.broadcast(graft.core.Perplexity.bank)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("ppl_centi"), col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("lang"),
          floor(PiiFunctions.perplexityLangUdf(b)(col("lang"), col("text")) * 100)
            .cast("long").as("ppl_centi"))
        .withColumn("ppl_bucket", ntile(3).over(w).cast("long"))
    }),

    "q_token_stats" -> ((s, dir) =>
      docs(s, dir).withColumn("t", toksCol)
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("t")).cast("long")).as("total_tokens"),
          sum(length(col("text")).cast("long")).as("total_chars"))),

    // vocabulary extraction (tokenizer-training prerequisite): corpus-wide
    // term + document frequency with a min-count floor — ONE scan, one
    // explode, one hash-agg (count-distinct expands to a partial-agg pair;
    // both stages keep map-side combine)
    "q_vocab" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), explode(toksCol).as("tok"))
        .groupBy(col("tok")).agg(
          count(lit(1)).as("term_freq"),
          countDistinct(col("doc_id")).as("doc_freq"))
        .where(col("term_freq") >= 20)),

    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))),

    "q_langdist" -> ((s, dir) =>
      docs(s, dir).groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))),

    // data mixing: deterministic per-language keep rates (en 50%, es 25%,
    // ja keep-all, others default keep-all) — resume-stable, SQL-exact
    "q_sample_mix" -> ((s, dir) =>
      graft.spark.WebOps.stratifiedSample(docs(s, dir), "lang", "doc_id",
        Map("en" -> 500, "es" -> 250))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))),

    "q_doclen_hist" -> ((s, dir) =>
      docs(s, dir).groupBy(floor(col("n_chars") / lit(100)).as("bucket"))
        .agg(count(lit(1)).as("n"))),

    // -- dedup family (training-pipeline ops) --
    "q_exact_dedup" -> ((s, dir) =>
      Dedup.exact(docsDedup(s, dir), "doc_id", "text")),

    // C4-style corpus-level line dedup: a line (>=10 chars) survives only
    // at its first (doc_id, line_no) occurrence
    "q_line_dedup" -> ((s, dir) =>
      graft.spark.WebOps.dedupLinesAcrossCorpus(docsDedup(s, dir), "doc_id", "text")),

    // Gopher-style INTRA-document repetition removal: within one document
    // a line (>=10 chars) survives only at its first occurrence — narrow,
    // no shuffle (vs the corpus-level variant above)
    "q_line_dedup_doc" -> ((s, dir) =>
      graft.spark.WebOps.dedupLinesWithinDoc(docsDedup(s, dir), "text")),

    // UT1-style domain blocklist with parent-domain (subdomain) matching,
    // urls synthesized from doc_id so the oracle is pure arithmetic
    "q_url_filter" -> ((s, dir) => {
      val urls = docs(s, dir).select(col("doc_id"),
        concat(lit("https://"),
          when(col("doc_id") % 11 === 0, lit("ads.")).otherwise(lit("")),
          lit("h"), (col("doc_id") % 50).cast("string"),
          lit(".example.test/p/"), col("doc_id").cast("string")).as("url"))
      val bl = s.sparkContext.broadcast(
        Set("h3.example.test", "h17.example.test", "ads.h22.example.test"))
      graft.spark.WebOps.filterBlocked(urls, "url", bl)
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
    }),

    "q_dup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(docsDedup(s, dir), "doc_id", "text",
        shingleK = 3, minSimMilli = 500)),

    // the CLUSTER-COLLAPSE arc shape curation runs at scale (bucket-star,
    // no quadratic pairwise verification); CPython twin recomputes buckets
    "q_dup_minhash_arcs" -> ((s, dir) =>
      Dedup.minHashBucketArcs(docsDedup(s, dir), "doc_id", "text",
        shingleK = 3)),

    "q_dup_minhash" -> ((s, dir) =>
      Dedup.minHashLsh(docsDedup(s, dir), "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.5)),

    "q_dup_simhash" -> ((s, dir) =>
      Dedup.simHashDups(docsDedup(s, dir), "doc_id", "text", maxDist = 3)),

    // dedup CLUSTER assignment: distributed hash-min connected components
    // over the MinHash-LSH edge set — the step that picks one
    // representative per near-dup cluster. Oracle: DuckDB recursive CTE
    // transitive closure over the same golden edge set.
    "q_dup_components" -> ((s, dir) => {
      val d = docsDedup(s, dir)
      val edges = Dedup.minHashLsh(d, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.5)
      Dedup.components(d.select(col("doc_id")), edges, idCol = "doc_id")
        .select(col("id").as("doc_id"), col("comp").as("component"))
    }),

    "q_embed_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDups(embeddings(s, dir), "vec_id", "embedding",
        minDotQ = 380000L)),

    // scale twin: signature-bucketed near-dup pair mining over in-query
    // planted perturbed copies (cosine ≈ 0.98 — the LSH operating regime)
    "q_embed_neardup_lsh" -> ((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      // two-step select: the shifted id is materialized FIRST so the lambda
      // below references an unambiguous column. (Historically this was one
      // select relying on implicit lateral-column-alias resolution — the
      // CPython twin pins the resulting sin argument as i + vec_id + 2e6,
      // i.e. the SHIFTED id + 1e6; keep that exact arithmetic.)
      val shifted = e.where(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val near = shifted.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * lit(0.98) + lit(0.02) * sin(i.cast("double") + col("vec_id").cast("double") + lit(1000000.0)))
          .cast("array<float>").as("embedding"))
      Dedup.embeddingNearDupsLsh(e.unionByName(near), "vec_id", "embedding",
        minDotQ = 900000L)
    }),

    // -- similarity search --
    "q_ann_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      e.where(col("vec_id") =!= 0)
        .select(col("vec_id"), Ann.dotQuantized(col("embedding"), typedLit(q)).as("dot_q"))
        .orderBy(col("dot_q").desc, col("vec_id"))
        .limit(10)
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      // 6 bits → 64 buckets: sized for the small test table (bucket population
      // ≈ N/64 × 7 probes); at cluster scale nBits grows with log2(N)
      Ann.lshTopK(e.where(col("vec_id") =!= 0), "vec_id", "embedding", q, 10, nBits = 6)
    }),

    "q_scrub_lines" -> ((s, dir) =>
      docsPii(s, dir).select(col("doc_id"),
        PiiFunctions.scrubTagsLinesUdf(col("text")).as("scrubbed"))),

    // BPE-ish subword segmentation count (GPT-2-style pattern, lookahead
    // dropped for RE2 oracle compatibility)
    "q_bpe_tokens" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        regexp_count(col("text"),
          lit(""" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""))
          .cast("long").as("n_bpe"))),

    // tokenizer TRAINING: BPE merge-rule learning — distributed word-freq
    // dict, deterministic driver-side merge loop (count desc, lexicographic
    // tie-break); CPython twin recomputes the identical merge table
    "q_bpe_merges" -> ((s, dir) =>
      graft.spark.BpeTrain.train(docs(s, dir), "text", numMerges = 50)),

    // tokenizer APPLY: encode the corpus with the learned merge table
    // (lowest-rank-pair-first, all occurrences) → vocabulary-sized token
    // frequency relation. ONE corpus tokenization pass: the full word-
    // frequency dict (minCount 1, localCheckpoint) feeds BOTH the merge
    // training (its ≥2 filter applied on top — same dict as before) and
    // the encode, which runs once per DISTINCT word weighted by its count
    // (identical counts to the per-occurrence pass, vocabulary-sized
    // shuffle instead of corpus-sized).
    "q_bpe_encode" -> ((s, dir) => {
      val wcAll = graft.spark.BpeTrain.wordCounts(docs(s, dir), "text",
        minCount = 1L).localCheckpoint(true)
      val merges = graft.spark.BpeTrain
        .trainMergesFromCounts(wcAll.where(col("n") >= 2L), numMerges = 50)
        .map { case (_, l, r, _) => (l, r) }
      graft.spark.BpeTrain.encodeCountsFromWordCounts(wcAll, merges)
    }),

    // LM TRAINING: distributed trigram counting (per-doc context reset,
    // 8192-char cap) — the bounded (gram, n) relation is the entire
    // sufficient statistic for the perplexity model; CPython twin
    // recomputes the identical counts
    "q_lm_train" -> ((s, dir) =>
      graft.spark.LmTrain.gramCounts(docs(s, dir), "text")),

    // LANGID TRAINING: supervised (lang, gram, n) counts from the corpus'
    // own labels — vocabulary-sized shuffle via Spark hash-agg (spillable),
    // minCount prunes the hapax tail; CPython twin recomputes the counts
    "q_langid_train" -> ((s, dir) =>
      graft.spark.LangIdTrain.gramCounts(docs(s, dir), "lang", "text",
        minCount = 5L)),

    // QUALITY-CLASSIFIER TRAINING: closed-form class-weighted ridge
    // least-squares distillation of the heuristic keep/drop cascade — one
    // corpus pass emits exact integer sufficient statistics (90 decimal
    // sums), driver solves 12x12; CPython twin recomputes the identical
    // weights bit-for-bit
    "q_quality_train" -> ((s, dir) =>
      graft.spark.QualityTrain.trainRelation(docs(s, dir), "text")),

    // hashed bag-of-words variant (CCNet fidelity): 12 aggregate signals
    // + 16 hashed token-unigram bucket rates, same exact-integer
    // statistics and twin-mirrored solve at nf = 28
    "q_quality_train_ng" -> ((s, dir) =>
      graft.spark.QualityTrain.trainRelationNg(docs(s, dir), "text")),

    // the train→apply loop closed: score every doc with the learned
    // weights, cross-tab vs the heuristic labels (deterministic because
    // the weights are). The featurized relation (metrics + perplexity per
    // doc — the only corpus-sized cost) is computed ONCE and shared by the
    // train statistics and the apply cross-tab (localCheckpoint, ~100 B
    // per doc), instead of two full featurize passes; weights and
    // confusion counts are bit-identical (same f arrays, same op order).
    "q_quality_apply" -> ((s, dir) => {
      val feats = graft.spark.QualityTrain.features(docs(s, dir), "text")
        .localCheckpoint(true)
      val w = graft.spark.QualityTrain.trainFromFeatures(feats)
      graft.spark.QualityTrain.confusionFromFeatures(feats, w)
    }),

    // trained quality model IN the pipeline (Conf.qualityModel): weights
    // from the documents table, applied over the pipeline pages as the
    // lowest-priority "quality_model" drop — the native Catalyst score
    // path on the line end-to-end, vs a CPython twin that recomputes
    // train + featurize + dot with the same op order
    "q_quality_pipeline" -> ((s, dir) => {
      val w = graft.spark.QualityTrain.train(docs(s, dir), "text")
      graft.spark.Pipeline.run(s, graft.spark.DataGen.pages(s, 2000).toDF(),
          graft.spark.Pipeline.Conf(qualityModel = Some(w)))
        .select(col("url"), col("keep"), col("drop_reason"), col("model_keep"))
    }),

    // DECONTAMINATION: mark docs sharing any 13-gram with a benchmark set
    // (here: every 97th doc stands in for the eval set) — broadcast sorted
    // hash array + one narrow corpus scan; CPython twin recomputes hits
    "q_decontam" -> ((s, dir) =>
      graft.spark.Decontam.run(docs(s, dir), "doc_id", "text",
        docs(s, dir).where(col("doc_id") % 97 === 0), "text")),

    // TOXICITY filter + scrub (the north-rule's second scrub family,
    // C4-style word blocklist): counts, in-place masking, and the C4
    // drop-on-any-hit flag — the LangBank automaton's column UDFs, with
    // the regex form as the exact DuckDB mirror; toxic terms planted
    // deterministically (the corpus itself is clean)
    "q_toxicity" -> ((s, dir) => {
      val id = col("doc_id")
      val tox = graft.spark.Toxicity
      val b = s.sparkContext.broadcast(tox.LangBank(Map("*" -> tox.DefaultList)))
      val planted = concat(col("text"),
        when(id % 11 === 0, lit(" well damn that spam")).otherwise(lit("")),
        when(id % 13 === 0, lit(" what the Hell happened")).otherwise(lit("")),
        when(id % 17 === 0, lit(" total CRAP content here")).otherwise(lit("")))
      docs(s, dir).withColumn("t", planted)
        .select(col("doc_id"),
          tox.countByLangUdf(b)(lit("*"), col("t")).as("n_toxic"),
          tox.scrubByLangUdf(b)(lit("*"), col("t")).as("scrubbed_tox"))
        .withColumn("dropped", col("n_toxic") > 0)
    }),

    // TOXICITY at UT1/LDNOOBW list scale (10k terms): the AUTOMATON tier
    // is the one on the line — the production path for real blocklists,
    // where a regex union is not viable. The oracle reproduces the pinned
    // boundary semantics WITHOUT a 10k-term regex: for plain-word terms a
    // boundary-valid occurrence is exactly a maximal [A-Za-z0-9_] token
    // equal (ASCII-folded) to the term, so the DuckDB twin tokenizes and
    // joins against the embedded list. Planted: folded-case hits, a
    // repeated term, and a near-miss suffix token that must NOT count.
    "q_toxicity_large" -> ((s, dir) => {
      val tox = graft.spark.Toxicity
      val ws = tox.syntheticList(10000)
      val b = s.sparkContext.broadcast(tox.LangBank(Map("*" -> ws)))
      val (w1, w2, w3) = (ws(17), ws(4242), ws(9999))
      val id = col("doc_id")
      val planted = concat(col("text"),
        when(id % 7 === 0, lit(s" ${w1.toUpperCase} and $w2 here"))
          .otherwise(lit("")),
        when(id % 13 === 0, lit(s" $w3 $w3 again")).otherwise(lit("")),
        when(id % 11 === 0, lit(s" ${w2}x miss")).otherwise(lit("")))
      docs(s, dir).withColumn("t", planted)
        .select(col("doc_id"), tox.countByLangUdf(b)(lit("*"), col("t")).as("n_toxic"))
        .withColumn("dropped", col("n_toxic") > 0)
    }),

    // PER-LANGUAGE toxicity (the C4/UT1 shape): each doc screened against
    // the list of its OWN identified language (same langid stage the
    // q_langid golden pins), fallback "*" for unlisted languages. Lists
    // are natural corpus words so hits are real; the oracle composes the
    // VERIFIED langid golden with the token-equality twin per language.
    "q_toxicity_bylang" -> ((s, dir) => {
      val tox = graft.spark.Toxicity
      val bank = Map("en" -> Seq("join", "hash"),
        "de" -> Seq("window", "line"), "*" -> Seq("value"))
      val bb = s.sparkContext.broadcast(tox.LangBank(bank))
      val bl = s.sparkContext.broadcast(graft.core.LangId.default)
      docs(s, dir)
        .select(col("doc_id"),
          PiiFunctions.langIdUdf(bl)(col("text")).getField("lang").as("lang_id"),
          col("text"))
        .select(col("doc_id"), col("lang_id"),
          tox.countByLangUdf(bb)(col("lang_id"), col("text")).as("n_toxic"))
    }),

    // decontam ATTRIBUTION (the inverse report): per BENCHMARK doc, how
    // many corpus docs share a 13-gram with it — over the planted-dup
    // corpus so real multi-doc leakage is on the line (bench doc 0 has an
    // exact and a near copy); CPython twin recomputes the cross product
    "q_decontam_report" -> ((s, dir) =>
      graft.spark.Decontam.report(docsDedup(s, dir), "text",
        docs(s, dir).where(col("doc_id") % 97 === 0), "doc_id", "text")),

    // input validation (op 1): size bounds + source allowlist, both
    // pushdown-friendly predicates
    "q_validate" -> ((s, dir) =>
      docs(s, dir).groupBy(
        (col("n_chars").between(50, 500) &&
          col("source").rlike("^src[0-9]+$")).as("valid"))
        .agg(count(lit(1)).as("n"))),

    // /detect/summary parity (op 23 quirk): amount silently excluded from
    // the counts dict (app/main.py:647,672-673)
    "q_summary_counts" -> ((s, dir) =>
      docsPii(s, dir)
        .select(explode(PiiFunctions.classifyUdf(col("text"))).as("h"))
        .where(col("h.kind") =!= "amount")
        .groupBy(col("h.kind").as("kind")).agg(count(lit(1)).as("n"))),

    // policy gating (op 8): detection restricted to the {email, id} policy
    "q_policy_counts" -> ((s, dir) =>
      docsPii(s, dir)
        .select(explode(PiiFunctions.classifyUdf(col("text"))).as("h"))
        .where(col("h.kind").isin("email", "id"))
        .groupBy(col("h.kind").as("kind")).agg(count(lit(1)).as("n"))),

    // confidence threshold (op 9): fixed confs make this a kind filter
    "q_conf_filter" -> ((s, dir) =>
      docsPii(s, dir)
        .select(explode(PiiFunctions.classifyUdf(col("text"))).as("h"))
        .where(col("h.conf") >= 0.9)
        .groupBy(col("h.kind").as("kind")).agg(count(lit(1)).as("n"))),

    // -- relational analogs (SURVEY ops 20-22, 26-27) --
    // op 20/26 analog: per-group ordered concat + min/max union
    "q_line_agg" -> ((s, dir) =>
      events(s, dir).groupBy(col("user_id"))
        .agg(
          concat_ws(" ", array_sort(collect_list(col("event_type")))).as("kinds"),
          min(unix_millis(col("ts").cast("timestamp"))).as("first_ms"),
          max(unix_millis(col("ts").cast("timestamp"))).as("last_ms"),
          count(lit(1)).as("n"))),

    // snowflake rollup (supplier ⇐ nation ⇐ region): both dims broadcast,
    // supplier rows never shuffle before the final agg; cents quantized
    // per row so the sum is exact/order-independent
    "q_supplier_region" -> ((s, dir) => {
      val sup = s.read.parquet(s"$dir/supplier.parquet")
      val nat = broadcast(s.read.parquet(s"$dir/nation.parquet"))
      val reg = broadcast(s.read.parquet(s"$dir/region.parquet"))
      sup.join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(floor(col("s_acctbal") * 100).cast("long")).as("acctbal_cents"))
    }),

    "q_part_brand_stats" -> ((s, dir) =>
      s.read.parquet(s"$dir/part.parquet")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          max(col("p_size")).cast("long").as("max_size"),
          sum(floor(col("p_retailprice") * 100).cast("long")).as("price_cents"))),

    "q_top_customers" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = broadcast(s.read.parquet(s"$dir/customer.parquet"))
      val rev = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"), col("c_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("nation")).orderBy(col("cents").desc, col("c_custkey"))
      rev.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
    }),

    "q_window_delta" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir).select(col("event_id"),
        coalesce(unix_millis(col("ts").cast("timestamp")) - lag(unix_millis(col("ts").cast("timestamp")), 1).over(w),
          lit(-1L)).as("delta_ms"))
    }),

    "q_sessionize" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("delta",
          unix_millis(col("ts").cast("timestamp")) - lag(unix_millis(col("ts").cast("timestamp")), 1).over(w))
        .groupBy(col("user_id"))
        .agg(sum(when(col("delta").isNull || col("delta") > 1800000L, 1L)
          .otherwise(0L)).as("n_sessions"))
    }),

    "q_event_stats" -> ((s, dir) =>
      events(s, dir).groupBy(col("user_id"), col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("cents"))),

    "q_join_agg" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = broadcast(s.read.parquet(s"$dir/customer.parquet"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
    }),

    "q_lineitem_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(floor(col("l_quantity") * 100).cast("long")).as("qty_cents"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
          count(lit(1)).as("n"))),

    // model-assisted NER slot (broadcast model + mapPartitions batching)
    "q_ner_model" -> ((s, dir) => {
      val b = s.sparkContext.broadcast(graft.spark.NerSlot.defaultModel)
      graft.spark.NerSlot.nerHits(docsNer(s, dir), "doc_id", "text", b)
        .select(explode(col("model_hits")).as("h"))
        .groupBy(col("h.kind").as("kind")).agg(count(lit(1)).as("n"))
    }),

    // -- rows-only (no SQL oracle; covered by ScalaTest suites) --
    "q_ann_ivf" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") === 0).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      val rest = e.where(col("vec_id") =!= 0)
      // rowEstimate from parquet footers (exact, no Spark job) — skips
      // kmeansCentroids' full-table count(); same effective sampling mod,
      // so the CPython-twinned centroids are unchanged
      val cents = Ann.kmeansCentroids(rest, "embedding", k = 16,
        rowEstimate = Ann.parquetRowCount(s, s"$dir/embeddings.parquet") - 1)
      Ann.ivfTopK(Ann.ivfIndex(rest, "embedding", cents), "vec_id",
        "embedding", cents, q, 10, nprobe = 4)
    }),

    // multimodal plumbing — output projected to SCALAR columns (the driver's
    // pandas compare cannot hash array cells); the feature vectors themselves
    // stay covered by MultimodalNerSpec. maxSide=800 exercises the resize cap.
    "q_media_features" -> ((s, dir) => {
      val media = Multimodal.mediaTable(s,
        docs(s, dir).select(col("doc_id"), encode(col("text"), "UTF-8").as("b")),
        "doc_id", "b")
      Multimodal.featurize(media, maxSide = 800).toDF()
        .select(col("media_id"), col("width"), col("height"),
          size(col("features")).cast("long").as("n_feat"))
    }),

    "q_frame_sample" -> ((s, dir) => {
      val media = Multimodal.mediaTable(s,
        docs(s, dir).select(col("doc_id"), encode(col("text"), "UTF-8").as("b")),
        "doc_id", "b")
      Multimodal.frameSample(media).toDF()
        .select(col("media_id"), col("frame_no"), col("ts_ms"),
          size(col("features")).cast("long").as("n_feat"))
    }),

    // flagship pipeline over the deterministic generated corpus; timestamp
    // as epoch millis, model doubles quantized (floor milli/centi) — raw
    // exp() outputs differ by 1 ulp between JVM and CPython libm, and the
    // CPython twin oracle must be bit-comparable
    "q_pipeline" -> ((s, _) =>
      Pipeline.run(s, DataGen.pages(s, 2000).toDF())
        .drop("alias_dict", "n_hits", "quality")
        .withColumn("warc_ms", unix_millis(col("warc_ts"))).drop("warc_ts")
        .withColumn("conf_milli", floor(col("lang_conf") * 1000).cast("long"))
        .drop("lang_conf")
        .withColumn("ppl_centi", floor(col("ppl") * 100).cast("long"))
        .drop("ppl")),

    // /redact/preview analog (SURVEY §3.3): the exploded hits relation with
    // exact offsets instead of bboxes
    "q_preview" -> ((s, dir) =>
      docsPii(s, dir)
        .select(col("doc_id"), posexplode(PiiFunctions.detectAllUdf(col("text"))))
        .select(col("doc_id"), col("pos"), col("col.kind"), col("col.text"),
          col("col.start"), col("col.end"),
          floor(col("col.conf") * 100).cast("long").as("conf_centi"),
          col("col.reason"))),

    // the FLAGSHIP at the ENHANCED security level: gazetteer model hits
    // merged into the redaction, end-to-end twinned (same DataGen rows,
    // same keep/drop chain, scrubbed_text reflects the merged spans)
    "q_pipeline_enhanced" -> ((s, _) =>
      Pipeline.run(s, DataGen.pages(s, 2000).toDF(),
          Pipeline.Conf(security = Pipeline.SecurityLevel.Enhanced))
        .drop("alias_dict", "n_hits", "quality", "model_hits")
        .withColumn("warc_ms", unix_millis(col("warc_ts"))).drop("warc_ts")
        .withColumn("conf_milli", floor(col("lang_conf") * 1000).cast("long"))
        .drop("lang_conf")
        .withColumn("ppl_centi", floor(col("ppl") * 100).cast("long"))
        .drop("ppl")),

    "q_pipeline_dedup" -> ((s, _) =>
      Pipeline.runDeduped(s, DataGen.pages(s, 2000).toDF())
        .drop("alias_dict", "n_hits", "quality")
        .withColumn("warc_ms", unix_millis(col("warc_ts"))).drop("warc_ts")
        .withColumn("conf_milli", floor(col("lang_conf") * 1000).cast("long"))
        .drop("lang_conf")
        .withColumn("ppl_centi", floor(col("ppl") * 100).cast("long"))
        .drop("ppl")),

    "q_langid" -> ((s, dir) => {
      val b = s.sparkContext.broadcast(graft.core.LangId.default)
      docs(s, dir).select(col("doc_id"),
        PiiFunctions.langIdUdf(b)(col("text")).as("g"))
        .select(col("doc_id"), col("g.lang").as("lang_id"),
          floor(col("g.conf") * 1000).cast("long").as("conf_milli"))
    }),

    "q_ppl" -> ((s, dir) => {
      val b = s.sparkContext.broadcast(graft.core.Perplexity.default)
      docs(s, dir).select(col("doc_id"),
        floor(PiiFunctions.perplexityUdf(b)(col("text")) * 100).cast("long")
          .as("ppl_centi"))
    }),

    // CCNet-style: each doc scored by the LM of its claimed language
    "q_ppl_lang" -> ((s, dir) => {
      val b = s.sparkContext.broadcast(graft.core.Perplexity.bank)
      docs(s, dir).select(col("doc_id"), col("lang"),
        floor(PiiFunctions.perplexityLangUdf(b)(col("lang"), col("text")) * 100)
          .cast("long").as("ppl_centi"))
    }),

    "q_scrub_ref" -> ((s, dir) =>
      docsPii(s, dir).select(col("doc_id"),
        PiiFunctions.scrubRefUdf(Pipeline.Conf().keyB64, Pipeline.Conf().ns)(col("text"))
          .as("scrubbed"))),

    // trained-NER sufficient statistic (op 13's generalization gap): the
    // span tagger's (label, feat, n) relation under distant supervision —
    // positives = gazetteer entries, negatives = pages candidate spans
    // containing no entry. Integer counts, bit-for-bit vs the CPython twin
    // (tools/gen_expected_pipeline.py); the model assembled from this
    // relation detects UNSEEN surname-pattern names (NerTagSpec).
    "q_ner_train" -> ((s, _) =>
      graft.spark.NerTagTrain.featureCounts(s, DataGen.pages(s, 2000).toDF(),
        "text", graft.spark.NerSlot.defaultModel)),

    // the COMPOSED curation path through the driver gate: keep filter +
    // scrub → exact-collapse star arcs + MinHash bucket-star arcs over
    // scrubbed_text → connected components → min-url representative →
    // 13-gram benchmark decontamination. Corpus = the flagship pages
    // fixture + deterministic exact copies (id%100==7) and near copies
    // (id%100==13, one appended line); benchmark = raw text of ids with
    // id%250==3. The CPython twin recomputes every stage independently
    // (tools/gen_expected_pipeline.py) — the survivor URL SET must match
    // exactly; each stage is additionally oracle-verified on its own row.
    "q_curation" -> ((s, _) => {
      import s.implicits._
      val base = DataGen.pages(s, 2000).toDF()
      val copies = s.range(0, 2000).filter(col("id") % 100 === 7).as[Long]
        .map { id =>
          DataGen.pageFor(id).copy(url = s"https://copy.example/c/$id")
        }.toDF()
      val nears = s.range(0, 2000).filter(col("id") % 100 === 13).as[Long]
        .map { id =>
          val p = DataGen.pageFor(id)
          p.copy(url = s"https://near.example/c/$id",
            text = p.text + "\nextra tail line")
        }.toDF()
      val corpus = base.unionByName(copies).unionByName(nears)
      val bench = s.range(0, 2000).filter(col("id") % 250 === 3).as[Long]
        .map(id => DataGen.pageFor(id).text).toDF("text")
      val (curated, _) = graft.spark.Curation.curate(s, corpus,
        benchmark = Some(bench), inputRows = Some(2040L))
      curated.select(col("url"))
    }),

    // the STREAMING face through the driver gate, at an ENABLED-EXTENSION
    // configuration (toxicity on, with list words that really occur in the
    // generated pages): the same pages flow through readStream →
    // Pipeline.run → writeStream (partitioned parquet, checkpointed,
    // AvailableNow) and the materialized output — including the toxicity
    // drop attribution, count column, and post-PII mask — must equal the
    // CPython batch twin row-for-row (pipeline_tox.parquet golden).
    "q_stream_pipeline" -> ((s, _) => {
      val in = streamFixtureDir(s)
      val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
      // numBuckets sized to the 2000-row fixture (guide-style output file
      // sizing): the default 64 dirs from ONE source task is 64 serial
      // parquet writer inits for ~31 rows each. part_bucket is dropped
      // from the compared output, so the row values are unchanged.
      val q = graft.spark.StreamingPipeline
        .fileStream(s, in, s"$tmp/out", s"$tmp/ck",
          Pipeline.Conf(toxicityByLang = Some(Map("*" -> StreamToxList)), numBuckets = 8))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$tmp/out")
        .drop("part_bucket", "alias_dict", "n_hits", "quality")
        .withColumn("warc_ms", unix_millis(col("warc_ts"))).drop("warc_ts")
        .withColumn("conf_milli", floor(col("lang_conf") * 1000).cast("long"))
        .drop("lang_conf")
        .withColumn("ppl_centi", floor(col("ppl") * 100).cast("long"))
        .drop("ppl")
    }),

    // the DSv2 URL-FETCH source through the driver gate (op 2): a
    // manifest of file: urls splits into batch partitions, each reader
    // fetches ITS files executor-side, rows land in the pages schema —
    // the DuckDB oracle re-reads the same files with read_blob and must
    // reproduce url/bytes/text verbatim (the stub's testable path)
    "q_url_fetch" -> ((s, _) => {
      val fdir = urlFetchFixtureDir()
      s.read.format("graft.sources.UrlFetchSource")
        .option("manifest", s"$fdir/manifest.txt")
        .option("batchSize", "7").load()
        .select(col("url"), unix_millis(col("warc_ts")).as("warc_ms"),
          length(col("html")).cast("long").as("n_bytes"),
          col("text"), col("lang"))
    }),

    // SINK LINEAGE through the driver gate (ops 6/27): a fresh resumable
    // sink run over the scored pages, then the per-bucket ledger counts
    // (written by the in-job accumulator tap, NO second pass) must equal
    // a DuckDB groupBy over the data files the sink actually wrote —
    // lineage is only lineage if it matches the bytes on disk
    "q_sink_lineage" -> ((s, _) => {
      val out = "/tmp/graft_gate_sink"
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, true) // fresh: lineage must regenerate
      val scored = Pipeline.withBucket(
        Pipeline.run(s, graft.spark.DataGen.pages(s, 2000).toDF()))
      graft.spark.IcebergishSink.writeResumable(s, scored, out,
        inputSnapshot = "gate")
      import s.implicits._
      graft.spark.IcebergishSink.readLineage(out)
        .map(l => (l.bucket.toLong, l.rows, l.keepRows, l.hits))
        .toDF("bucket", "n_rows", "n_keep", "n_hits_total")
    }),

    // ENHANCED-level scrub (ops 13/14 merged into the redaction path): the
    // fused page_stages expression with ner=true — gazetteer model hits are
    // merged into the scrub span set and counted in n_hits. Exercised over
    // a corpus with BOTH planted PII and planted entities so regex/model
    // span overlap resolution is on the line. CPython twin reads the same
    // committed gazetteer artifact (tools/gen_expected.py).
    "q_scrub_enhanced" -> ((s, dir) => {
      graft.spark.expressions.GraftExtensions.install(s)
      val c = Pipeline.Conf()
      docsNerPii(s, dir)
        .select(col("doc_id"),
          call_function("page_stages", col("text"), lit("dict"),
            lit(c.keyB64), lit(c.ns), lit(""), lit("true")).as("r"))
        .select(col("doc_id"), col("r.scrubbed").as("scrubbed"),
          coalesce(element_at(col("r.counts"), "org"), lit(0L)).as("n_org"),
          coalesce(element_at(col("r.counts"), "name"), lit(0L)).as("n_name"),
          size(col("r.model_hits")).cast("long").as("n_model"))
    })
  )

  // ---- DuckDB oracles ------------------------------------------------------

  def oracleSql: Map[String, String] = Map(
    "q_detect_counts" -> (piiCte +
      ", hits AS (" +
      s" SELECT 'email' AS kind, len(regexp_extract_all(text, '$reEmail')) AS n FROM docs" +
      s" UNION ALL SELECT 'phone', len(regexp_extract_all(text, '$rePhone')) FROM docs" +
      s" UNION ALL SELECT 'amount', len(regexp_extract_all(text, '$reAmount')) FROM docs" +
      s" UNION ALL SELECT 'id', len(regexp_extract_all(text, '$reId')) FROM docs)" +
      " SELECT kind, CAST(SUM(n) AS BIGINT) AS n FROM hits GROUP BY kind HAVING SUM(n) > 0"),

    "q_scrub_tag" -> (piiCte +
      " SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(text," +
      s" '$reEmail', '<EMAIL>', 'g'), '$rePhone', '<PHONE>', 'g')," +
      s" '$reAmount', '<AMOUNT>', 'g'), '$reId', '<ID>', 'g') AS scrubbed FROM docs"),

    "q_scrub_dict_stats" -> (piiCte +
      s" SELECT doc_id, CAST(len(regexp_extract_all(text, '$reEmail')) AS BIGINT) AS n_email," +
      s" CAST(len(regexp_extract_all(text, '$rePhone')) AS BIGINT) AS n_phone," +
      s" CAST(len(regexp_extract_all(text, '$reAmount')) AS BIGINT) AS n_amount," +
      s" CAST(len(regexp_extract_all(text, '$reId')) AS BIGINT) AS n_id," +
      s" CAST(len(list_distinct(regexp_extract_all(text, '$reEmail')))" +
      s" + len(list_distinct(regexp_extract_all(text, '$rePhone')))" +
      s" + len(list_distinct(regexp_extract_all(text, '$reAmount')))" +
      s" + len(list_distinct(regexp_extract_all(text, '$reId'))) AS BIGINT) AS n_alias FROM docs"),

    "q_pii_found" -> (piiCte +
      s" SELECT source, CAST(SUM(CASE WHEN regexp_matches(text, '$reEmail')" +
      s" OR regexp_matches(text, '$rePhone') OR regexp_matches(text, '$reAmount')" +
      s" OR regexp_matches(text, '$reId') THEN 1 ELSE 0 END) AS BIGINT) AS n_pii," +
      " COUNT(*) AS n FROM docs GROUP BY source"),

    "q_quality" -> ("WITH t AS (SELECT doc_id, text," +
      " list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents)" +
      " SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words," +
      s" CAST(len(list_filter(toks, x -> list_contains($stopSqlList, x))) AS BIGINT) AS stop_cnt," +
      " CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS BIGINT) AS sym_cnt," +
      " CAST(CASE WHEN len(toks) = 0 THEN 1000 ELSE floor(1000.0 * len(list_distinct(toks)) / len(toks)) END AS BIGINT) AS distw_milli" +
      " FROM t"),

    "q_keep_stats" -> ("WITH t AS (SELECT lang, text," +
      " list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents)," +
      " m AS (SELECT lang, len(toks) AS n_words," +
      s" len(list_filter(toks, x -> list_contains($stopSqlList, x))) AS stop_cnt," +
      " length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS sym_cnt," +
      " CASE WHEN len(toks) = 0 THEN 1000 ELSE floor(1000.0 * len(list_distinct(toks)) / len(toks)) END AS distw_milli," +
      " length(text) AS n_chars FROM t)" +
      " SELECT lang, (n_words >= 5 AND stop_cnt * 100 >= n_words AND sym_cnt * 10 <= n_chars" +
      " AND distw_milli >= 50) AS keep_heur, COUNT(*) AS n FROM m GROUP BY lang, keep_heur"),

    "q_gopher_ngrams" ->
      ("SELECT doc_id, top2_milli, top3_milli, top4_milli, dup5_milli," +
        " dup10_milli FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/gopher_ngrams.parquet')"),

    "q_source_reputation" -> ("WITH t AS (SELECT source, text," +
      " list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents)," +
      " m AS (SELECT source, len(toks) AS n_words," +
      s" len(list_filter(toks, x -> list_contains($stopSqlList, x))) AS stop_cnt," +
      " length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS sym_cnt," +
      " CASE WHEN len(toks) = 0 THEN 1000 ELSE floor(1000.0 * len(list_distinct(toks)) / len(toks)) END AS distw_milli," +
      " length(text) AS n_chars FROM t)," +
      " k AS (SELECT source, (n_words >= 5 AND stop_cnt * 100 >= n_words" +
      " AND sym_cnt * 10 <= n_chars AND distw_milli >= 50) AS keep FROM m)" +
      " SELECT source, COUNT(*) AS n_docs," +
      " CAST(floor(1000.0 * SUM(CAST(keep AS BIGINT)) / COUNT(*)) AS BIGINT) AS keep_rate_milli," +
      " (floor(1000.0 * SUM(CAST(keep AS BIGINT)) / COUNT(*)) < 500) AS blocked" +
      " FROM k GROUP BY source"),

    "q_url_canon" -> ("WITH u AS (SELECT doc_id," +
      " 'HTTPS://Host-' || CAST(doc_id % 50 AS VARCHAR) || '.Example' ||" +
      " CASE WHEN doc_id % 4 = 0 THEN ':443' WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END ||" +
      " CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '/p/' || CAST(doc_id AS VARCHAR) END ||" +
      " CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&id=' || CAST(doc_id AS VARCHAR)" +
      "      WHEN doc_id % 7 = 0 THEN '?a=1&utm_campaign=z&b=2' ELSE '' END ||" +
      " CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url FROM documents)," +
      " p1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM u)," +
      " p2 AS (SELECT doc_id," +
      "   lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme," +
      "   regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM p1)," +
      " p3 AS (SELECT doc_id, scheme," +
      "   lower(regexp_extract(rest, '^([^/?]+)', 1)) AS hp0," +
      "   regexp_replace(rest, '^[^/?]+', '') AS after FROM p2)," +
      " p4 AS (SELECT doc_id, scheme," +
      "   CASE WHEN scheme = 'http' THEN regexp_replace(hp0, ':80$', '')" +
      "        WHEN scheme = 'https' THEN regexp_replace(hp0, ':443$', '')" +
      "        ELSE hp0 END AS hp," +
      "   regexp_extract(after, '^([^?]*)', 1) AS path," +
      "   array_to_string(list_filter(string_split(regexp_extract(after, '\\?(.*)$', 1), '&')," +
      "     x -> NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid)=')), '&') AS kept FROM p3)" +
      " SELECT doc_id, scheme || '://' || hp ||" +
      "  CASE WHEN path = '/' AND kept = '' THEN '' ELSE path END ||" +
      "  CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canon_url FROM p4"),

    "q_token_shards" -> ("WITH t AS (SELECT doc_id," +
      " CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n" +
      " FROM documents), c AS (SELECT doc_id, COALESCE(SUM(n) OVER (ORDER BY doc_id" +
      " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev FROM t)" +
      " SELECT doc_id, CAST(prev // 10000 AS BIGINT) AS shard FROM c"),

    // composes on the already-verified ppl_lang twin artifact: the bucket
    // assignment is pure SQL over those scores
    "q_ccnet_buckets" ->
      ("SELECT doc_id, lang, ppl_centi, CAST(ntile(3) OVER (PARTITION BY lang" +
        " ORDER BY ppl_centi, doc_id) AS BIGINT) AS ppl_bucket" +
        s" FROM read_parquet('$GoldenDir/expected_sf0.01/ppl_lang.parquet')"),

    "q_token_stats" -> ("WITH t AS (SELECT lang, text," +
      " list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents)" +
      " SELECT lang, COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS total_tokens," +
      " CAST(SUM(length(text)) AS BIGINT) AS total_chars FROM t GROUP BY lang"),

    "q_fingerprint" ->
      "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM documents",

    "q_vocab" -> ("WITH t AS (SELECT doc_id," +
      " UNNEST(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok" +
      " FROM documents)" +
      " SELECT tok, COUNT(*) AS term_freq, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq" +
      " FROM t GROUP BY tok HAVING COUNT(*) >= 20"),

    "q_langdist" ->
      "SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source",

    "q_doclen_hist" ->
      "SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bucket, COUNT(*) AS n FROM documents GROUP BY bucket",

    "q_sample_mix" ->
      ("SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM documents" +
        " WHERE ((doc_id % 100003) * 48271) % 100003 % 1000 <" +
        " CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 250 ELSE 1000 END" +
        " GROUP BY lang"),

    "q_exact_dedup" -> (dedupCte +
      " SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, COUNT(*) AS n_copies FROM ddocs GROUP BY md5(text)"),

    // first occurrence = min lexicographic (doc_id, line_no), encoded
    // numerically (line_no < 100000); short lines (<10 chars) never dedup
    "q_line_dedup" -> (dedupCte +
      ", l AS (SELECT doc_id, UNNEST(string_split(text, chr(10))) AS line," +
      " UNNEST(range(0, len(string_split(text, chr(10))))) AS line_no FROM ddocs)" +
      ", f AS (SELECT md5(line) AS h, min(doc_id * 100000 + line_no) AS k" +
      " FROM l WHERE length(line) >= 10 GROUP BY 1)" +
      ", r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text" +
      " FROM l LEFT JOIN f ON length(line) >= 10 AND md5(line) = f.h" +
      " WHERE f.h IS NULL OR doc_id * 100000 + line_no = f.k GROUP BY doc_id)" +
      // docs whose every line was deduped survive with empty text
      " SELECT d.doc_id, COALESCE(r.text, '') AS text" +
      " FROM (SELECT DISTINCT doc_id FROM ddocs) d LEFT JOIN r USING (doc_id)"),

    "q_line_dedup_doc" -> (dedupCte +
      ", l AS (SELECT doc_id, UNNEST(string_split(text, chr(10))) AS line," +
      " UNNEST(range(0, len(string_split(text, chr(10))))) AS line_no FROM ddocs)" +
      ", k AS (SELECT doc_id, line, line_no FROM l WHERE length(line) < 10" +
      "  UNION ALL SELECT doc_id, line, line_no FROM" +
      "  (SELECT doc_id, line, line_no," +
      "   ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY line_no) AS rn" +
      "   FROM l WHERE length(line) >= 10) WHERE rn = 1)" +
      " SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text" +
      " FROM k GROUP BY doc_id"),

    // blocked iff host in {h3,h17}.example.test (any subdomain, via the
    // parent-domain walk) or the exact ads.h22.example.test host
    "q_url_filter" ->
      ("SELECT COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM documents" +
        " WHERE NOT (doc_id % 50 IN (3, 17) OR (doc_id % 11 = 0 AND doc_id % 50 = 22))"),

    "q_dup_jaccard" -> (dedupCte +
      ", toks AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t FROM ddocs)" +
      ", sh AS (SELECT id, UNNEST(list_distinct(CASE WHEN len(t) = 0 THEN []::VARCHAR[]" +
      " WHEN len(t) < 3 THEN [array_to_string(t, ' ')]" +
      " ELSE list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)) AS s FROM toks)" +
      ", sz AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id)" +
      ", inter AS (SELECT x.id AS a, y.id AS b, COUNT(*) AS i FROM sh x JOIN sh y ON x.s = y.s AND x.id < y.id GROUP BY 1, 2)" +
      " SELECT a, b, CAST(i AS BIGINT) AS inter, CAST(na.n + nb.n - i AS BIGINT) AS union_n," +
      " CAST(floor(1000 * i / (na.n + nb.n - i)) AS BIGINT) AS sim_milli" +
      " FROM inter JOIN sz na ON na.id = a JOIN sz nb ON nb.id = b" +
      " WHERE floor(1000 * i / (na.n + nb.n - i)) >= 500"),

    "q_embed_neardup" ->
      ("SELECT x.vec_id AS a, y.vec_id AS b," +
        " CAST(list_sum(list_transform(range(1, len(x.embedding) + 1)," +
        " i -> CAST(floor(CAST(x.embedding[i] AS DOUBLE) * 1000) AS BIGINT)" +
        " * CAST(floor(CAST(y.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS dot_q" +
        " FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id" +
        " WHERE list_sum(list_transform(range(1, len(x.embedding) + 1)," +
        " i -> CAST(floor(CAST(x.embedding[i] AS DOUBLE) * 1000) AS BIGINT)" +
        " * CAST(floor(CAST(y.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) >= 380000"),

    "q_ann_topk" ->
      ("WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)" +
        " SELECT e.vec_id, CAST(list_sum(list_transform(range(1, len(e.embedding) + 1)," +
        " i -> CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT)" +
        " * CAST(floor(CAST(qe[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS dot_q" +
        " FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY dot_q DESC, e.vec_id LIMIT 10"),

    "q_scrub_lines" -> (piiCte +
      " SELECT doc_id, array_to_string(list_transform(string_split(text, chr(10))," +
      " l -> regexp_replace(regexp_replace(regexp_replace(regexp_replace(l," +
      s" '$reEmail', '<EMAIL>', 'g'), '$rePhone', '<PHONE>', 'g')," +
      s" '$reAmount', '<AMOUNT>', 'g'), '$reId', '<ID>', 'g')), chr(10)) AS scrubbed FROM docs"),

    "q_bpe_tokens" ->
      ("SELECT doc_id, CAST(len(regexp_extract_all(text," +
        " ' ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS BIGINT) AS n_bpe FROM documents"),

    "q_validate" ->
      ("SELECT (n_chars BETWEEN 50 AND 500 AND regexp_matches(source, '^src[0-9]+$')) AS valid," +
        " COUNT(*) AS n FROM documents GROUP BY valid"),

    "q_summary_counts" -> (piiCte +
      ", hits AS (" +
      s" SELECT 'email' AS kind, len(regexp_extract_all(text, '$reEmail')) AS n FROM docs" +
      s" UNION ALL SELECT 'phone', len(regexp_extract_all(text, '$rePhone')) FROM docs" +
      s" UNION ALL SELECT 'id', len(regexp_extract_all(text, '$reId')) FROM docs)" +
      " SELECT kind, CAST(SUM(n) AS BIGINT) AS n FROM hits GROUP BY kind HAVING SUM(n) > 0"),

    "q_policy_counts" -> (piiCte +
      ", hits AS (" +
      s" SELECT 'email' AS kind, len(regexp_extract_all(text, '$reEmail')) AS n FROM docs" +
      s" UNION ALL SELECT 'id', len(regexp_extract_all(text, '$reId')) FROM docs)" +
      " SELECT kind, CAST(SUM(n) AS BIGINT) AS n FROM hits GROUP BY kind HAVING SUM(n) > 0"),

    // conf >= 0.9 keeps email (.99), phone (.95), amount (.90); drops id (.88)
    "q_conf_filter" -> (piiCte +
      ", hits AS (" +
      s" SELECT 'email' AS kind, len(regexp_extract_all(text, '$reEmail')) AS n FROM docs" +
      s" UNION ALL SELECT 'phone', len(regexp_extract_all(text, '$rePhone')) FROM docs" +
      s" UNION ALL SELECT 'amount', len(regexp_extract_all(text, '$reAmount')) FROM docs)" +
      " SELECT kind, CAST(SUM(n) AS BIGINT) AS n FROM hits GROUP BY kind HAVING SUM(n) > 0"),

    "q_line_agg" ->
      ("SELECT user_id, string_agg(event_type, ' ' ORDER BY event_type) AS kinds," +
        " CAST(min(epoch_ms(ts)) AS BIGINT) AS first_ms," +
        " CAST(max(epoch_ms(ts)) AS BIGINT) AS last_ms," +
        " COUNT(*) AS n FROM events GROUP BY user_id"),

    "q_supplier_region" ->
      ("SELECT r_name, COUNT(*) AS n_suppliers," +
        " CAST(SUM(CAST(floor(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents" +
        " FROM supplier JOIN nation ON s_nationkey = n_nationkey" +
        " JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"),

    "q_part_brand_stats" ->
      ("SELECT p_brand, COUNT(*) AS n_parts," +
        " CAST(MAX(p_size) AS BIGINT) AS max_size," +
        " CAST(SUM(CAST(floor(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS price_cents" +
        " FROM part GROUP BY p_brand"),

    "q_top_customers" ->
      ("WITH rev AS (SELECT c_nationkey AS nation, c_custkey," +
        " CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents" +
        " FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2)" +
        " SELECT nation, c_custkey, cents, CAST(rk AS INT) AS rk FROM (" +
        " SELECT nation, c_custkey, cents, ROW_NUMBER() OVER" +
        " (PARTITION BY nation ORDER BY cents DESC, c_custkey) AS rk FROM rev)" +
        " WHERE rk <= 3"),

    // expected counts computed by CPython reading the SAME committed
    // gazetteer artifact with naive all-occurrence matching — an
    // independent-implementation check of the Aho-Corasick automaton
    // (tools/gen_expected.py)
    "q_ner_model" ->
      s"SELECT kind, n FROM read_parquet('$GoldenDir/expected_sf0.01/ner_model.parquet')",

    "q_window_delta" ->
      ("SELECT event_id, COALESCE(epoch_ms(ts) - lag(epoch_ms(ts)) OVER" +
        " (PARTITION BY user_id ORDER BY ts, event_id), -1) AS delta_ms FROM events"),

    "q_sessionize" ->
      ("WITH d AS (SELECT user_id, epoch_ms(ts) - lag(epoch_ms(ts)) OVER" +
        " (PARTITION BY user_id ORDER BY ts, event_id) AS delta FROM events)" +
        " SELECT user_id, CAST(SUM(CASE WHEN delta IS NULL OR delta > 1800000 THEN 1 ELSE 0 END) AS BIGINT)" +
        " AS n_sessions FROM d GROUP BY user_id"),

    "q_event_stats" ->
      ("SELECT user_id, event_type, COUNT(*) AS n," +
        " CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents" +
        " FROM events GROUP BY user_id, event_type"),

    "q_join_agg" ->
      ("SELECT c_nationkey AS nation, COUNT(*) AS n," +
        " CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents" +
        " FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_nationkey"),

    // media metadata is id-arithmetic (Multimodal.mediaTable) and the resize
    // rule is floor(x+0.5) = Java Math.round — both reproducible here; n_feat
    // pins the stub's fixed feature width
    "q_media_features" ->
      ("WITH m AS (SELECT doc_id AS media_id," +
        " 320 + (doc_id * 37) % 1700 AS w, 240 + (doc_id * 53) % 900 AS h FROM documents)" +
        " SELECT media_id," +
        " CAST(CASE WHEN greatest(w, h) <= 800 THEN w" +
        "  ELSE greatest(1, floor(w * (800.0 / greatest(w, h)) + 0.5)) END AS INT) AS width," +
        " CAST(CASE WHEN greatest(w, h) <= 800 THEN h" +
        "  ELSE greatest(1, floor(h * (800.0 / greatest(w, h)) + 0.5)) END AS INT) AS height," +
        " CAST(16 AS BIGINT) AS n_feat FROM m"),

    "q_frame_sample" ->
      ("WITH m AS (SELECT doc_id AS media_id," +
        " CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1000 + (doc_id * 97) % 60000 END AS dur FROM documents)," +
        " v AS (SELECT media_id, least(8, dur // 10000 + 1) AS n FROM m WHERE dur > 0)," +
        " f AS (SELECT media_id, UNNEST(range(0, n)) AS fn FROM v)" +
        " SELECT media_id, CAST(fn AS INT) AS frame_no," +
        " CAST(fn * 10000 AS BIGINT) AS ts_ms, CAST(16 AS BIGINT) AS n_feat FROM f"),

    "q_lineitem_agg" ->
      ("SELECT l_returnflag, l_linestatus," +
        " CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents," +
        " CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents," +
        " COUNT(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus"),

    // ---- CPython-golden parquet oracles ------------------------------------
    // RE2 cannot express the postal lookaround or MT19937 aliasing, so these
    // two queries are checked against EXPECTED parquet computed by CPython
    // running the reference semantics over the same sf0.01 corpus + planted
    // PII (tools/gen_expected.py) — reference-independent, corpus-scale.
    "q_scrub_ref" ->
      ("SELECT doc_id, scrubbed FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/scrub_ref.parquet')"),

    "q_preview" ->
      ("SELECT doc_id, pos, kind, text, \"start\", \"end\", conf_centi, reason" +
        s" FROM read_parquet('$GoldenDir/expected_sf0.01/preview.parquet')"),

    "q_bpe_merges" ->
      ("SELECT rank, \"left\", \"right\", freq FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/bpe_merges.parquet')"),

    "q_bpe_encode" ->
      ("SELECT token, n FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/bpe_encode.parquet')"),

    "q_lm_train" ->
      ("SELECT gram, n FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/lm_train.parquet')"),

    "q_langid_train" ->
      ("SELECT lang, gram, n FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/langid_train.parquet')"),

    "q_decontam" ->
      ("SELECT doc_id, n_hits13, contaminated FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/decontam.parquet')"),

    "q_decontam_report" ->
      ("SELECT bench_id, n_docs FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/decontam_report.parquet')"),

    "q_toxicity" -> {
      // RE2 form: the ASCII-boundary/ASCII-fold semantics the Spark
      // automaton checks char by char
      val pat = graft.spark.Toxicity.oraclePattern()
      ("WITH t AS (SELECT doc_id, text ||" +
        " CASE WHEN doc_id % 11 = 0 THEN ' well damn that spam' ELSE '' END ||" +
        " CASE WHEN doc_id % 13 = 0 THEN ' what the Hell happened' ELSE '' END ||" +
        " CASE WHEN doc_id % 17 = 0 THEN ' total CRAP content here' ELSE '' END AS tx" +
        " FROM documents)" +
        s" SELECT doc_id, CAST(len(regexp_extract_all(tx, '$pat')) AS BIGINT) AS n_toxic," +
        s" regexp_replace(tx, '$pat', '<TOXIC>', 'g') AS scrubbed_tox," +
        s" len(regexp_extract_all(tx, '$pat')) > 0 AS dropped FROM t")
    },

    "q_toxicity_large" -> {
      // Token-equality twin of the automaton tier (see the query comment):
      // tokenize into maximal ASCII-word runs, fold, join the embedded
      // 10k-term list. lower() is safe here — tokens are pure ASCII by
      // construction of the extraction regex.
      val tox = graft.spark.Toxicity
      val ws = tox.syntheticList(10000)
      val (w1, w2, w3) = (ws(17), ws(4242), ws(9999))
      val listSql = ws.map(w => s"'$w'").mkString("[", ",", "]")
      ("WITH t AS (SELECT doc_id, text ||" +
        s" CASE WHEN doc_id % 7 = 0 THEN ' ${w1.toUpperCase} and $w2 here' ELSE '' END ||" +
        s" CASE WHEN doc_id % 13 = 0 THEN ' $w3 $w3 again' ELSE '' END ||" +
        s" CASE WHEN doc_id % 11 = 0 THEN ' ${w2}x miss' ELSE '' END AS tx" +
        " FROM documents)," +
        " tok AS (SELECT doc_id, unnest(regexp_extract_all(tx, '[A-Za-z0-9_]+')) AS tk FROM t)," +
        s" w AS (SELECT unnest($listSql) AS w)," +
        " hits AS (SELECT doc_id, count(*) AS n FROM tok JOIN w ON lower(tk) = w.w GROUP BY doc_id)" +
        " SELECT t.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_toxic," +
        " coalesce(h.n, 0) > 0 AS dropped" +
        " FROM t LEFT JOIN hits h ON t.doc_id = h.doc_id")
    },

    "q_toxicity_bylang" ->
      // verified langid golden supplies lang_id; per-lang token-equality
      // twin supplies counts (see q_toxicity_large for why token
      // equality ≡ the pinned boundary semantics for plain-word terms)
      ("WITH g AS (SELECT doc_id, lang_id FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/langid.parquet'))," +
        " tok AS (SELECT d.doc_id, unnest(regexp_extract_all(d.text," +
        " '[A-Za-z0-9_]+')) AS tk FROM documents d)," +
        " w AS (SELECT * FROM (VALUES ('en','join'),('en','hash')," +
        "('de','window'),('de','line'),('*','value')) AS t(lg, w))," +
        " eff AS (SELECT doc_id, CASE WHEN lang_id IN ('en','de')" +
        " THEN lang_id ELSE '*' END AS lg FROM g)," +
        " hits AS (SELECT e.doc_id, count(*) AS n FROM tok t" +
        " JOIN eff e USING (doc_id) JOIN w ON w.lg = e.lg AND w.w = lower(t.tk)" +
        " GROUP BY 1)" +
        " SELECT g.doc_id, g.lang_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_toxic" +
        " FROM g LEFT JOIN hits h USING (doc_id)"),

    "q_quality_train" ->
      ("SELECT feature, w_micro FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/quality_train.parquet')"),

    "q_quality_train_ng" ->
      ("SELECT feature, w_micro FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/quality_train_ng.parquet')"),

    "q_quality_apply" ->
      ("SELECT pred_keep, heur_keep, n FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/quality_apply.parquet')"),

    // ENHANCED merged scrub: CPython recomputes the regex-union spans, the
    // gazetteer automaton hits (same committed artifact, naive all-occurrence
    // matching), the stable (start, -len) merge and the dict aliasing
    "q_scrub_enhanced" ->
      ("SELECT doc_id, scrubbed, n_org, n_name, n_model FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/scrub_enhanced.parquet')"),

    // model-scoring twins: CPython loads the SAME committed binary model
    // artifacts (ModelIo format) and reimplements only the scoring loops
    "q_langid" ->
      s"SELECT doc_id, lang_id, conf_milli FROM read_parquet('$GoldenDir/expected_sf0.01/langid.parquet')",
    "q_ppl" ->
      s"SELECT doc_id, ppl_centi FROM read_parquet('$GoldenDir/expected_sf0.01/ppl.parquet')",
    "q_ppl_lang" ->
      s"SELECT doc_id, lang, ppl_centi FROM read_parquet('$GoldenDir/expected_sf0.01/ppl_lang.parquet')",

    // dedup/ANN construction twins: CPython reimplements the MurmurHash3 /
    // splitmix64 / float-product math bit-for-bit (tools/gen_expected.py)
    "q_dup_simhash" ->
      s"SELECT a, b, dist FROM read_parquet('$GoldenDir/expected_sf0.01/dup_simhash.parquet')",

    // connected components via recursive transitive closure over the SAME
    // golden edge set the Spark side mines; component = min reachable id.
    // (Clusters are shallow/small by construction, so the closure stays
    // tiny at oracle scale.)
    "q_dup_components" -> ("WITH RECURSIVE ddocs AS (SELECT doc_id FROM documents" +
      " UNION ALL SELECT doc_id + 2000000 FROM documents WHERE doc_id % 10 = 0" +
      " UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id % 7 = 0)," +
      s" e AS (SELECT a, b FROM read_parquet('$GoldenDir/expected_sf0.01/dup_minhash.parquet')" +
      s" UNION ALL SELECT b, a FROM read_parquet('$GoldenDir/expected_sf0.01/dup_minhash.parquet'))," +
      " reach(src, dst) AS (SELECT doc_id, doc_id FROM ddocs" +
      " UNION SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a)" +
      " SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS component" +
      " FROM reach GROUP BY src"),
    "q_dup_minhash" ->
      s"SELECT a, b, sim FROM read_parquet('$GoldenDir/expected_sf0.01/dup_minhash.parquet')",

    "q_dup_minhash_arcs" ->
      s"SELECT a, b FROM read_parquet('$GoldenDir/expected_sf0.01/dup_minhash_arcs.parquet')",
    "q_embed_neardup_lsh" ->
      s"SELECT a, b, dot_q FROM read_parquet('$GoldenDir/expected_sf0.01/embed_neardup_lsh.parquet')",
    "q_ann_lsh" ->
      s"SELECT vec_id, score FROM read_parquet('$GoldenDir/expected_sf0.01/ann_lsh.parquet')",
    "q_ann_ivf" ->
      s"SELECT vec_id, score FROM read_parquet('$GoldenDir/expected_sf0.01/ann_ivf.parquet')",

    // the FLAGSHIP, twinned end-to-end: CPython recomputes DataGen
    // (java.util.Random LCG port), langid/ppl (shared model artifacts),
    // quality metrics, keep/drop chain, dict scrub and the fingerprint
    // dedup (tools/gen_expected_pipeline.py) — bit-exact per url
    "q_pipeline" ->
      ("SELECT url, lang_claimed, lang_id, conf_milli, ppl_centi, keep," +
        " drop_reason, scrubbed_text, warc_ms" +
        s" FROM read_parquet('$GoldenDir/expected_sf0.01/pipeline.parquet')"),
    "q_pipeline_dedup" ->
      ("SELECT url, lang_claimed, lang_id, conf_milli, ppl_centi, keep," +
        " drop_reason, scrubbed_text, warc_ms" +
        s" FROM read_parquet('$GoldenDir/expected_sf0.01/pipeline_dedup.parquet')"),

    // url-fetch: DuckDB re-reads the fixture files the manifest names
    "q_url_fetch" ->
      ("SELECT 'file://' || filename AS url," +
        " CAST(1704067200000 AS BIGINT) AS warc_ms," +
        " CAST(size AS BIGINT) AS n_bytes, decode(content) AS text," +
        " 'und' AS lang FROM read_blob('/tmp/graft_gate_urlfetch/f*.txt')"),

    // sink lineage: ledger counts vs a groupBy over the written data files
    "q_sink_lineage" ->
      ("SELECT CAST(part_bucket AS BIGINT) AS bucket," +
        " count(*) AS n_rows," +
        " CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep," +
        " CAST(coalesce(sum(list_aggregate(map_values(n_hits), 'sum')), 0)" +
        " AS BIGINT) AS n_hits_total" +
        " FROM read_parquet('/tmp/graft_gate_sink/data/*/*.parquet'," +
        " hive_partitioning=1) GROUP BY 1"),

    // trained quality model in the pipeline: CPython retrains the
    // 12-feature weights over documents and replays featurize + dot +
    // lowest-priority attribution per page (gen_expected_pipeline.py)
    "q_quality_pipeline" ->
      ("SELECT url, keep, drop_reason, model_keep FROM read_parquet(" +
        s"'$GoldenDir/expected_sf0.01/quality_pipeline.parquet')"),

    // composed curation: the survivor url set, every stage recomputed
    // independently in CPython (pipeline chain, minhash banding,
    // union-find components, 13-gram decontam)
    "q_curation" ->
      s"SELECT url FROM read_parquet('$GoldenDir/expected_sf0.01/curation.parquet')",

    // trained-NER sufficient statistic (integer counts, bit-for-bit)
    "q_ner_train" ->
      s"SELECT label, feat, n FROM read_parquet('$GoldenDir/expected_sf0.01/ner_train.parquet')",

    "q_pipeline_enhanced" ->
      ("SELECT url, lang_claimed, lang_id, conf_milli, ppl_centi, keep," +
        " drop_reason, scrubbed_text, warc_ms" +
        s" FROM read_parquet('$GoldenDir/expected_sf0.01/pipeline_enhanced.parquet')"),

    // the streaming run (toxicity extension ENABLED) must converge to the
    // BATCH twin exactly, including the toxicity attribution/count/mask
    "q_stream_pipeline" ->
      ("SELECT url, lang_claimed, lang_id, conf_milli, ppl_centi, keep," +
        " drop_reason, scrubbed_text, warc_ms, n_toxic" +
        s" FROM read_parquet('$GoldenDir/expected_sf0.01/pipeline_tox.parquet')"),

  )

  /** Expected-parquet root for the CPython-twin oracles. Resolved to an
    * ABSOLUTE path at query-build time (the oracle SQL is executed by the
    * driver's DuckDB from an unknown cwd): working-dir-relative when run
    * from a checkout, env override for anything else. */
  private lazy val GoldenDir: String = sys.env.get("GRAFT_GOLDEN_DIR").getOrElse {
    val rel = new java.io.File("src/test/resources/golden")
    if (rel.isDirectory) rel.getAbsolutePath
    else sys.error("CPython golden parquets not found: src/test/resources/golden is " +
      "missing under the working directory; run from the repository root or set " +
      "GRAFT_GOLDEN_DIR to the golden directory")
  }
}
