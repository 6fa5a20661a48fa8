package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF index maintenance: appends join existing cells (recall holds for
  * appended vectors), tombstone deletes disappear from probes, planning-
  * time partition pruning survives both, and the rebuild threshold fires
  * on tombstone pileup. */
class IvfMaintenanceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def fixture() = {
    val e = spark.read.parquet(TestData("sf0.001/embeddings.parquet"))
    val base = e.where(col("vec_id") % 10 =!= 3) // held-out tenth appended later
    val extra = e.where(col("vec_id") % 10 === 3)
    val cents = Ann.kmeansCentroids(base, "embedding", k = 16)
    val dir = Files.createTempDirectory("graft-ivf-maint").toString
    Ann.writeIndex(Ann.ivfIndex(base, "embedding", cents), cents, dir)
    (e, base, extra, cents, dir)
  }

  test("append joins existing cells; appended vector is found; pruning holds") {
    val (e, _, extra, _, dir) = fixture()
    Ann.appendToIndex(spark, dir, extra, "embedding")
    val (indexed, cents) = Ann.readIndex(spark, dir)
    assert(indexed.count() == e.count())
    // query AT an appended vector: it must be its own top hit at full probe
    val probe = extra.select(col("vec_id"), col("embedding")).head()
    val q = probe.getSeq[Float](1).toArray
    val top = Ann.ivfTopK(indexed, "vec_id", "embedding", cents, q,
      k = 5, nprobe = cents.length)
    assert(top.head().getLong(0) == probe.getLong(0),
      "appended vector not retrievable from the maintained index")
    // partition pruning still reaches the scan below any maintenance joins
    val narrow = Ann.ivfTopK(indexed, "vec_id", "embedding", cents, q,
      k = 5, nprobe = 4)
    val scanLine = narrow.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"),
      s"cell not in partition filters after append: $scanLine")
  }

  test("tombstoned ids vanish from probes; pruning survives the anti-join") {
    import spark.implicits._
    val (_, base, _, _, dir) = fixture()
    val victim = base.select(col("vec_id"), col("embedding")).head()
    Ann.deleteFromIndex(spark, dir, Seq(victim.getLong(0)).toDF("vec_id"))
    val (indexed, cents) = Ann.readIndex(spark, dir)
    val q = victim.getSeq[Float](1).toArray
    val top = Ann.ivfTopK(indexed, "vec_id", "embedding", cents, q,
      k = 5, nprobe = cents.length)
    val ids = top.collect().map(_.getLong(0)).toSet
    assert(!ids.contains(victim.getLong(0)), "tombstoned id still returned")
    val narrow = Ann.ivfTopK(indexed, "vec_id", "embedding", cents, q,
      k = 5, nprobe = 4)
    val plan = narrow.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"),
      s"cell not in partition filters under tombstones: $scanLine")
    assert(plan.contains("BroadcastHashJoin"),
      "tombstone anti-join must broadcast, not shuffle")
  }

  test("rebuild threshold fires on tombstone pileup; rebuildIndex resets it") {
    import spark.implicits._
    val (_, base, _, _, dir) = fixture()
    val s0 = Ann.indexStats(spark, dir)
    assert(!s0.needsRebuild && s0.tombstones == 0L && s0.cells > 1)
    val n = s0.liveRows
    val victims = base.select(col("vec_id")).limit((n / 4).toInt + 1)
    Ann.deleteFromIndex(spark, dir, victims)
    val s1 = Ann.indexStats(spark, dir)
    assert(s1.needsRebuild, s"expected rebuild at ${s1.tombstones}/$n tombstones")
    assert(s1.liveRows == n - s1.tombstones)
    // rebuild: survivors re-clustered, tombstone table dropped, stats reset
    val deadIds = victims.collect().map(_.getLong(0)).toSet
    val s2 = Ann.rebuildIndex(spark, dir, "embedding")
    assert(!s2.needsRebuild && s2.tombstones == 0L,
      s"rebuild did not reset stats: $s2")
    assert(s2.liveRows == s1.liveRows, s"rebuild changed live rows: $s1 -> $s2")
    // recall restored: a survivor is its own top hit; dead ids stay gone
    val (indexed, cents) = Ann.readIndex(spark, dir)
    val probe = base.where(!col("vec_id").isin(deadIds.toSeq.map(Long.box): _*))
      .select(col("vec_id"), col("embedding")).head()
    val top = Ann.ivfTopK(indexed, "vec_id", "embedding", cents,
      probe.getSeq[Float](1).toArray, k = 5, nprobe = cents.length)
    assert(top.head().getLong(0) == probe.getLong(0),
      "survivor not retrievable after rebuild")
    assert(indexed.where(col("vec_id").isin(deadIds.toSeq.map(Long.box): _*))
      .isEmpty, "tombstoned rows resurrected by rebuild")
    // the permanent-tombstone rule lifts with the rebuild: the deleted id
    // no longer exists anywhere, so re-inserting it is legal again
    val resurrect = spark.read.parquet(TestData("sf0.001/embeddings.parquet"))
      .where(col("vec_id") === deadIds.head)
    Ann.appendToIndex(spark, dir, resurrect, "embedding")
    assert(Ann.readIndex(spark, dir)._1
      .where(col("vec_id") === deadIds.head).count() == 1L)
  }

  test("deleting absent ids records nothing (liveRows stays exact)") {
    import spark.implicits._
    val (_, _, _, _, dir) = fixture()
    val s0 = Ann.indexStats(spark, dir)
    // ids far outside the corpus: the left-semi filter drops all of them
    Ann.deleteFromIndex(spark, dir,
      Seq(9000001L, 9000002L, 9000003L).toDF("vec_id"))
    val s1 = Ann.indexStats(spark, dir)
    assert(s1 == s0, s"absent-id delete skewed stats: $s0 -> $s1")
  }

  test("append with divergent columns fails fast, not at the next read") {
    val (_, _, extra, _, dir) = fixture()
    val renamed = extra.withColumnRenamed("vec_id", "row_id")
    val e = intercept[IllegalArgumentException] {
      Ann.appendToIndex(spark, dir, renamed, "embedding")
    }
    assert(e.getMessage.contains("do not match the index schema"))
    val dropped = extra.drop("vec_id")
    assert(intercept[IllegalArgumentException] {
      Ann.appendToIndex(spark, dir, dropped, "embedding")
    }.getMessage.contains("do not match the index schema"))
  }
}
