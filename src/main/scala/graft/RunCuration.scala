package graft

import graft.spark.{Curation, LocalFs, Pipeline, Toxicity}
import org.apache.spark.sql.SparkSession

/** Production curation entry point — the composed training-data run:
  *
  *   spark-submit --class graft.RunCuration app.jar \
  *     <pagesParquet> <outDir> [benchmarkParquet] [scrubMode]
  *
  * quality filter + scrub → near-dup collapse → optional benchmark
  * decontamination → partitioned parquet, one JSON report line with
  * per-stage survivor counts. The per-doc stage with resumable bucket
  * commits stays [[RunPipeline]]; this entry adds the corpus-level stages,
  * whose outputs are deterministic and idempotent under overwrite.
  */
object RunCuration {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunCuration <pagesParquet> <outDir> [benchmarkParquet] [scrubMode]")
    val Array(in, out) = args.take(2)
    val benchPath = args.lift(2).filter(_.nonEmpty)
    val scrubMode = args.lift(3).getOrElse("dict")

    val builder = SparkSession.builder().appName("graft-curation")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    sys.env.get("SPARK_GRAFT_CPUS").foreach { c =>
      builder.master(s"local[$c]")
        .config("spark.sql.shuffle.partitions", c)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    // SPARK_GRAFT_STAGE=<dir>: stage intermediates as parquet tables and
    // run the dedup collapse with Materialize.Recompute — the 100-TB
    // production shape (see Curation.curate stageDir)
    val stageDir = sys.env.get("SPARK_GRAFT_STAGE").filter(_.nonEmpty)
    // same toxicity surface as RunPipeline: "default", "file:<path>"
    // (UT1 one-term-per-line via Hadoop FS), or an inline CSV list
    val conf = Pipeline.Conf(scrubMode = scrubMode,
      toxicityByLang = sys.env.get("SPARK_GRAFT_TOXICITY")
        .map(spec => Map("*" -> Toxicity.listFromSpec(spark, spec))))
    val (curated, report) = Curation.curate(spark,
      spark.read.parquet(in), conf,
      benchPath.map(p => spark.read.parquet(p)), stageDir = stageDir)
    curated.write.mode("overwrite")
      .options(LocalFs.writerOptions(out, spark.sessionState.newHadoopConf()))
      .parquet(out)
    val sec = (System.nanoTime() - t0) / 1e9
    val stages = report.stageSec
      .map { case (k, v) => s""""$k":${math.round(v * 10) / 10.0}""" }
      .mkString("{", ",", "}")
    println(
      s"""{"input":${report.input},"kept":${report.kept},""" +
        s""""after_near_dup":${report.afterNearDup},""" +
        s""""after_decontam":${report.afterDecontam},"sec":$sec,""" +
        s""""stage_sec":$stages,"docs_per_sec":${report.input / sec}}""")
    spark.stop()
  }
}
