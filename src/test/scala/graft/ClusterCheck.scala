package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_sort, col, map_entries, struct, to_json}
import org.apache.spark.sql.types.MapType

/** Dev-only multi-process parity check (VERDICT r5 #3): run every declared
  * query under a spark-submit-provided master — e.g.
  * `local-cluster[2,4,4096]`, which launches REAL separate executor JVMs
  * with real closure serialization, broadcast transport and shuffle
  * service — and compare each result as a multiset against a local-mode
  * `graft.Verify` dump. This is the class of bug local[N] structurally
  * cannot catch (closures capturing non-serializable state, broadcast
  * re-use across processes).
  *
  *   sbt package && sbt Test/package
  *   SPARK_HOME=/opt/spark /opt/spark/bin/spark-submit \
  *     --master 'local-cluster[2,4,4096]' --driver-memory 6g \
  *     --class graft.ClusterCheck \
  *     --jars target/scala-2.13/piiredactorspark_2.13-0.1.0.jar \
  *     target/scala-2.13/piiredactorspark_2.13-0.1.0-tests.jar \
  *     <sfDir> <refDir-from-local-Verify>
  *
  * No .master() here: spark-submit's --master must win, so the same main
  * can be pointed at local-cluster, a standalone master, or local[N].
  */
object ClusterCheck {
  /** Multiset equality. exceptAll both ways is exact for every column type
    * it supports; map-typed outputs fall back to a multiset of `to_json`
    * rows, with each map's entries sorted (entry order is not part of a
    * map's value) and null fields written out rather than dropped. */
  def sameRows(l: DataFrame, r: DataFrame): Boolean =
    try l.exceptAll(r).isEmpty && r.exceptAll(l).isEmpty
    catch {
      case _: AnalysisException =>
        def m(df: DataFrame) =
          df.select(df.schema.fields.toSeq.map { f =>
            f.dataType match {
              case _: MapType => array_sort(map_entries(col(f.name))).as(f.name)
              case _ => col(f.name)
            }
          }: _*)
            .select(to_json(struct(col("*")), Map("ignoreNullFields" -> "false")).as("js"))
            .groupBy("js").count()
        m(l).except(m(r)).isEmpty && m(r).except(m(l)).isEmpty
    }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.ClusterCheck <sfDir> <refDir-from-local-Verify>")
      sys.exit(2)
    }
    val Array(sfDir, refDir) = args.take(2)
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"CLUSTERCHECK master=${spark.sparkContext.master} " +
      s"defaultParallelism=${spark.sparkContext.defaultParallelism}")

    var ok, bad = 0
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val res =
        try {
          val got = fn(spark, sfDir)
          val ref = spark.read.parquet(s"$refDir/$name")
          if (got.schema.map(f => (f.name, f.dataType)) !=
              ref.schema.map(f => (f.name, f.dataType))) "SCHEMA"
          else if (sameRows(got, ref)) "OK"
          else "ROWS"
        } catch { case e: Throwable =>
          s"ERR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        }
      if (res == "OK") ok += 1 else { bad += 1; failed += s"$name $res" }
      println(s"CLUSTERCHECK $name $res")
    }
    println(s"CLUSTERCHECK SUMMARY ok=$ok bad=$bad" +
      (if (failed.nonEmpty) failed.mkString(" [", "; ", "]") else ""))
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
