package graft

import org.apache.spark.sql.SparkSession

/** Utility main: materialize a deterministic pages corpus to parquet.
  * Usage: runMain graft.GenPages <nDocs> <outPath> [partitions] */
object GenPages {
  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val out = args(1)
    val parts = if (args.length > 2) args(2).toInt else 128
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.spark.DataGen.pages(s, n, partitions = parts).write
      .mode("overwrite").parquet(out)
    println(s"wrote $out: ${s.read.parquet(out).count()} rows")
    s.stop()
  }
}
