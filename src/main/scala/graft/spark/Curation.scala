package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composed production path a
  * training-data run actually executes, in the canonical order:
  *
  *   quality filter + scrub (per-doc, narrow)
  *   → near-duplicate collapse (exact + MinHash bucket-star arcs →
  *     hash-min components → keep the min-url representative per group)
  *   → optional 13-gram benchmark decontamination
  *
  * Each stage is the already-oracle-verified operator; this composes them
  * and reports per-stage survivor counts. Scale shape is inherited: the
  * per-doc stage is one narrow pass, dedup shuffles digests/signatures
  * (never raw text twice — see [[Dedup.minHashLsh]]), components iterates
  * over the id set only, and decontam is a broadcast scan. Survivor joins
  * are left-semi on the id.
  *
  * Determinism: representatives are min-url per component and every stage
  * is layout-independent, so the curated id set is identical across
  * partitionings (pinned by CurationSpec).
  */
object Curation {

  final case class Report(input: Long, kept: Long, afterNearDup: Long,
                          afterDecontam: Long,
                          stageSec: Map[String, Double] = Map.empty)

  /** `inputRows`: the report's input count. When the caller already knows
    * it (table statistics, a ledger, a fixed fixture) pass it and the
    * extra `pages.count()` pass is skipped — at 100 TB that count is a
    * real scan of a derived frame. (An `observe()` on the pipeline stage
    * cannot carry it for free here: `kept` is localCheckpoint-ed, and a
    * CollectMetrics node buried under a LogicalRDD/InMemoryRelation leaf
    * never reaches the acting query's observedMetrics — the Observation
    * would block forever.) */
  def curate(spark: SparkSession, pages: DataFrame,
             conf: Pipeline.Conf = Pipeline.Conf(),
             benchmark: Option[DataFrame] = None,
             decontamK: Int = 13,
             inputRows: Option[Long] = None,
             /** When set, intermediate relations (kept survivors, deduped
               * survivors) are STAGED as parquet tables under this dir and
               * the dedup collapse runs [[Dedup.Materialize.Recompute]] —
               * the 100-TB production shape: no executor-memory
               * materialization, every consumer re-scans the staged table.
               * Default (None) keeps the localCheckpoint shape, right for
               * local mode and static-allocation batch. */
             stageDir: Option[String] = None,
             /** With `stageDir`: reuse a staged table whose `_SUCCESS`
               * marker already exists instead of recomputing it — restart
               * resume at stage granularity (the half-written victim of a
               * crash has no marker and is rewritten). OFF by default: a
               * stage dir left over from a DIFFERENT corpus would be
               * silently wrong; opt in only when the caller owns the dir's
               * lifecycle (the sink's ledger plays this role per-bucket). */
             stageResume: Boolean = false): (DataFrame, Report) = {
    val secs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      secs.update(name, (System.nanoTime() - t0) / 1e9)
      r
    }
    val materialize: Dedup.Materialize =
      if (stageDir.isDefined) Dedup.Materialize.Recompute
      else Dedup.Materialize.LocalCheckpoint
    /** Stage a relation: parquet round-trip (production) or
      * localCheckpoint (local default). Returns the re-readable staged
      * frame; callers count it with a cheap second action over the
      * materialized table. */
    def stage(name: String, df: DataFrame): DataFrame = stageDir match {
      case Some(dir) =>
        val path = s"$dir/$name"
        val done = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
        val hconf = spark.sessionState.newHadoopConf()
        if (!(stageResume && done.getFileSystem(hconf).exists(done)))
          df.write.mode("overwrite").options(LocalFs.writerOptions(path, hconf))
            .parquet(path)
        spark.read.parquet(path)
      case None => df.localCheckpoint(false)
    }
    val input = inputRows.getOrElse(timed("input_count")(pages.count()))
    val scored = Pipeline.run(spark, pages, conf)
    // kept feeds three consumers (dedup signature pass, component seed,
    // survivor join) — materialize once (checkpoint or staged table)
    val (kept, keptN) = timed("pipeline") {
      val k = stage("kept", scored.where(col("keep")))
      (k, k.count())
    }

    // bucket-star arcs, not verified pair mining: a curation pass collapses
    // whole near-dup CLUSTERS, and pairwise verification is quadratic per
    // clique (see Dedup.minHashBucketArcs — 41.6M candidate pairs on a
    // dup-heavy 50k-page corpus vs linear bucket arcs)
    val arcs = Dedup.minHashBucketArcs(kept, "url", "scrubbed_text",
      materialize = materialize)
    val labels = timed("near_dup")(
      Dedup.components(kept.select(col("url")), arcs, idCol = "url"))
    // comp is the hash-min label, so the representative is the row whose
    // id IS its component label
    val reps = labels.where(col("id") === col("comp"))
      .select(col("id").as("url"))
    val (deduped, dedupN) = timed("survivors") {
      val d = stage("deduped", kept.join(reps, Seq("url"), "left_semi"))
      (d, d.count())
    }

    benchmark match {
      case Some(b) =>
        val hashes = timed("bench_hashes")(
          Decontam.benchmarkHashes(b, "text", decontamK))
        val marked = Decontam.mark(deduped, "url", "scrubbed_text",
          hashes, decontamK)
        val clean = deduped.join(
          marked.where(!col("contaminated")).select("url"),
          Seq("url"), "left_semi")
        val n = timed("decontam")(clean.count())
        (clean, Report(input, keptN, dedupN, n, secs.toMap))
      case None =>
        (deduped, Report(input, keptN, dedupN, dedupN, secs.toMap))
    }
  }
}
