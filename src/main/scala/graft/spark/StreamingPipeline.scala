package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming face of the engine.
  *
  * The reference service is strictly request/response (SURVEY §2.9) and the
  * north-rule pipeline is batch with ledger resume — but the same per-row
  * stages are stateless, so the identical [[Pipeline.run]] plan runs
  * unchanged on a streaming DataFrame (`readStream` source → transforms →
  * `writeStream`). This object adds the streaming-only pieces: watermarked
  * windowed monitoring aggregates and a file-stream entry point.
  */
object StreamingPipeline {

  /** Same stages as the batch pipeline — [[Pipeline.run]] is
    * streaming-safe (narrow, stateless, broadcast models). */
  def run(spark: SparkSession, pagesStream: DataFrame,
          conf: Pipeline.Conf = Pipeline.Conf()): DataFrame =
    Pipeline.run(spark, pagesStream, conf)

  /** Keep/drop rate per event-time window and language — the monitoring
    * stream a crawl ingestion job would publish. Watermark bounds state so
    * the aggregation runs forever on unbounded input. */
  def keepRateByWindow(scored: DataFrame, window: String = "1 hour",
                       watermark: String = "2 hours"): DataFrame =
    scored
      .withWatermark("warc_ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("warc_ts"), window),
        col("lang_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(aggregate(map_values(col("n_hits")), lit(0L), (a, v) => a + v))
          .as("n_pii_hits"))

  /** A closed crawl-host session: pages from one host with < `gap` between
    * consecutive events. */
  final case class HostSession(host: String, nPages: Long, nKeep: Long,
                               startMs: Long, endMs: Long)

  final case class HostState(nPages: Long, nKeep: Long,
                                     startMs: Long, lastMs: Long)

  /** Custom streaming state (KeyValueGroupedDataset.flatMapGroupsWithState):
    * per-host crawl sessions with an event-time gap — emits a session row
    * when a host goes quiet for `gapMs` (via EventTimeTimeout). The batch
    * twin is the lag/running-sum sessionization in q_sessionize; this is the
    * unbounded-input version with explicit state + timeout semantics. */
  def hostSessions(scored: DataFrame, gapMs: Long = 3600000L,
                   watermark: String = "2 hours"): org.apache.spark.sql.Dataset[HostSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      // the watermark column itself must flow into the stateful operator —
      // selecting a derived value instead detaches the event-time metadata
      .select(Pipeline.hostCol(col("url")).as("host"), col("warc_ts"),
        col("keep").cast("long").as("k"))
      .withWatermark("warc_ts", watermark)
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HostState, HostSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (host, rows, state: GroupState[HostState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(HostSession(host, s.nPages, s.nKeep, s.startMs, s.lastMs))
          } else {
            var out = List.empty[HostSession]
            var st = state.getOption.getOrElse(HostState(0, 0, Long.MaxValue, Long.MinValue))
            rows.toSeq.sortBy(_._2.getTime).foreach { case (_, ts, k) =>
              val ms = ts.getTime
              if (st.nPages > 0 && ms - st.lastMs > gapMs) {
                out ::= HostSession(host, st.nPages, st.nKeep, st.startMs, st.lastMs)
                st = HostState(0, 0, Long.MaxValue, Long.MinValue)
              }
              st = HostState(st.nPages + 1, st.nKeep + k,
                math.min(st.startMs, ms), math.max(st.lastMs, ms))
            }
            state.update(st)
            state.setTimeoutTimestamp(st.lastMs + gapMs)
            out.reverseIterator
          }
      }
  }

  /** Streaming exact dedup: later copies of a normalized-text fingerprint
    * are dropped as they arrive. `dropDuplicatesWithinWatermark` keeps the
    * state BOUNDED — a fingerprint is only remembered within the watermark
    * horizon (an unbounded `dropDuplicates` would grow state forever on an
    * endless crawl). The batch twin is [[Pipeline.runDeduped]]'s collapse;
    * this is its unbounded-input form. */
  def dedupStream(pages: DataFrame, watermark: String = "2 hours"): DataFrame =
    pages
      .withWatermark("warc_ts", watermark)
      .withColumn("fp", PiiFunctions.fingerprintUdf(col("text")))
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp")

  /** File-source entry point: new parquet page files appearing under `path`
    * stream through the pipeline into partitioned parquet, checkpointed —
    * the streaming twin of the batch ledger resume. */
  def fileStream(spark: SparkSession, inPath: String, outPath: String,
                 checkpoint: String, conf: Pipeline.Conf = Pipeline.Conf()) = {
    val pages = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(inPath)
    Pipeline.withBucket(run(spark, pages, conf), conf)
      .writeStream
      .format("parquet")
      .options(LocalFs.writerOptions(outPath, spark.sessionState.newHadoopConf()))
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("part_bucket")
  }
}
