package graft

import graft.spark.Pipeline
import org.apache.spark.sql.SparkSession

/** Dev-only multi-process throughput probe: the SAME level job as the
  * frozen `graft.Bench` (Pipeline.run over the materialized bench pages
  * parquet, every column forced through the noop sink, untimed JIT
  * warm-up then best-of-N) but with the master supplied by spark-submit —
  * so `local-cluster[W,C,M]` measures the pipeline through REAL separate
  * executor JVMs (serialized task closures, broadcast transport, noop
  * commit protocol) instead of threads sharing one heap.
  *
  *   sbt package && sbt Test/package
  *   SPARK_HOME=/opt/spark /opt/spark/bin/spark-submit \
  *     --master 'local-cluster[4,8,8192]' --driver-memory 4g \
  *     --conf spark.executor.extraJavaOptions='-XX:+UseParallelGC' \
  *     --class graft.ClusterBench \
  *     --jars target/scala-2.13/piiredactorspark_2.13-0.1.0.jar \
  *     target/scala-2.13/piiredactorspark_2.13-0.1.0-tests.jar \
  *     [pagesParquet] [nDocs] [runs]
  *
  * Session confs mirror Bench.session (4m splits so every executor core
  * sees many task waves; AQE; UTC); shuffle partitions default to the
  * master's default parallelism. The docs/s rates divide by the row count
  * of `pagesParquet`, counted before the timed runs; an `nDocs` argument
  * that disagrees with it only prints a warning. Reported numbers are NOT
  * `graft.Bench` figures — they contextualize the local[N] scaling table
  * in BENCH.md.
  */
object ClusterBench {
  def main(args: Array[String]): Unit = {
    // default: the corpus graft.Bench writes under the working directory
    val pagesPath = args.headOption.getOrElse(new java.io.File("target/bench_pages").getAbsolutePath)
    val runs = args.lift(2).map(_.toInt).getOrElse(6)
    val s = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_SPLIT", "4m"))
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // one shuffle partition per task slot unless spark-submit set it
    if (!s.sparkContext.getConf.contains("spark.sql.shuffle.partitions"))
      s.conf.set("spark.sql.shuffle.partitions", s.sparkContext.defaultParallelism.toLong)
    println(s"CLUSTERBENCH master=${s.sparkContext.master} " +
      s"shufflePartitions=${s.conf.get("spark.sql.shuffle.partitions")}")
    // rates divide by the corpus's real row count, counted before any timing
    val nDocs = s.read.parquet(pagesPath).count()
    args.lift(1).map(_.toLong).filter(_ != nDocs).foreach { given =>
      println(s"CLUSTERBENCH WARN nDocs argument $given != $nDocs rows in $pagesPath; using $nDocs")
    }
    val conf = Pipeline.Conf(
      security = Pipeline.SecurityLevel.parse(
        sys.env.getOrElse("SPARK_GRAFT_SECURITY", "maximum")))
    def job(): Unit = Pipeline.run(s, s.read.parquet(pagesPath), conf)
      .write.format("noop").mode("overwrite").save()
    job() // JIT warm-up pass (driver codegen + executor C2), untimed
    var best = Double.MaxValue
    (0 until runs).foreach { r =>
      val t0 = System.nanoTime()
      job()
      val sec = (System.nanoTime() - t0) / 1e9
      if (sec < best) best = sec
      println(f"CLUSTERBENCH run=$r sec=$sec%.3f docsPerSec=${nDocs / sec}%.0f")
    }
    println(f"CLUSTERBENCH BEST sec=$best%.3f docsPerSec=${nDocs / best}%.0f")
    s.stop()
  }
}
