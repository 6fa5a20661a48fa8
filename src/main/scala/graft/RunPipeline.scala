package graft

import graft.spark.{IcebergishSink, Pipeline, Toxicity}
import org.apache.spark.sql.SparkSession

/** Production-style entry point — what a user submits to a cluster:
  *
  *   spark-submit --class graft.RunPipeline app.jar \
  *     <pagesParquet> <outTable> [inputSnapshotId] [scrubMode]
  *
  * Reads the Iceberg-style pages table, runs the full quality-filter +
  * scrub pipeline, writes the partitioned sink with per-bucket lineage, and
  * prints a one-line JSON run report. Re-running after a failure resumes:
  * committed buckets are skipped (see IcebergishSink).
  *
  * Locally the master comes from SPARK_GRAFT_CPUS (local[n]); under
  * spark-submit the master/conf come from the submit environment and the
  * builder leaves them untouched.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunPipeline <pagesParquet> <outTable> [inputSnapshot] [scrubMode]")
    val Array(in, out) = args.take(2)
    val inputSnapshot = if (args.length > 2) args(2) else "unknown"
    val scrubMode = if (args.length > 3) args(3) else "dict"

    val builder = SparkSession.builder().appName("graft-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's 64MB advisory target would coalesce the post-shuffle score+
      // write stage below the core count (8 tasks on a 500MB shuffle),
      // serializing parquet encode — keep one task per (bucket,salt) wave
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // measured by cpuSec (BENCH.md), snappy and lz4_raw are within noise
      // on this output, so snappy (the ecosystem default) is pinned
      .config("spark.sql.parquet.compression.codec", "snappy")
    sys.env.get("SPARK_GRAFT_CPUS").foreach { c =>
      builder.master(s"local[$c]")
        .config("spark.sql.shuffle.partitions", c)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_SECURITY selects the reference's 4-level surface
    // (maximum default — model NER at enhanced/standard), and
    // SPARK_GRAFT_TOXICITY enables the C4 blocklist stage (drop + output
    // masking) with one list for every language: "default" = the
    // placeholder list, "file:<path>" = a one-term-per-line
    // UT1/LDNOOBW-format list loaded via the Hadoop FS API (hdfs/s3a
    // ready), anything else = an inline comma-separated list
    val conf = Pipeline.Conf(scrubMode = scrubMode,
      security = Pipeline.SecurityLevel.parse(
        sys.env.getOrElse("SPARK_GRAFT_SECURITY", "maximum")),
      toxicityByLang = sys.env.get("SPARK_GRAFT_TOXICITY")
        .map(spec => Map("*" -> Toxicity.listFromSpec(spark, spec))))

    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    // shuffle raw pages by (bucket, salt), THEN score (narrow) — the shuffle
    // moves ~2× fewer bytes than shuffling the scored output
    val bucketed = Pipeline.withBucket(spark.read.parquet(in), conf)
    val report = IcebergishSink.writeResumable(spark, bucketed, out, conf,
      inputSnapshot,
      scoreAfterShuffle = df => Pipeline.withBucket(Pipeline.run(spark, df, conf), conf))
    val sec = (System.nanoTime() - t0) / 1e9
    val cpuSec = (osBean.getProcessCpuTime - cpu0) / 1e9
    println(
      s"""{"snapshot":"${report.snapshotId}","rows":${report.rows},""" +
        s""""keep_rows":${report.keepRows},"buckets_written":${report.bucketsWritten.size},""" +
        s""""buckets_skipped":${report.bucketsSkipped.size},"sec":$sec,"cpu_sec":$cpuSec,""" +
        // throughput counts only rows THIS run wrote — a resumed run must
        // not claim the whole table over its short wall time
        s""""docs_per_sec":${if (report.bucketsWritten.nonEmpty) report.rowsWritten / sec else 0.0}}""")
    spark.stop()
  }
}
