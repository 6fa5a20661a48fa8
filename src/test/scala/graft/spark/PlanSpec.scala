package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util

/** Physical-plan shape assertions — the scale story in executable form:
  * column pruning reaches the scan, predicates push into parquet, the small
  * dimension join broadcasts. These are what make the same code viable at
  * 100 TB, so they are pinned as tests, not hopes. */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val pagesPath: String = {
    val dir = Files.createTempDirectory("graft-plan-pages").toString
    DataGen.pages(spark, 300, partitions = 4).write.mode("overwrite").parquet(dir)
    dir
  }

  test("pipeline scan prunes html: ReadSchema carries only the used columns") {
    val df = Pipeline.run(spark, spark.read.parquet(pagesPath))
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("url") && scan.contains("text") && scan.contains("lang"))
    assert(!scan.contains("html"), s"html not pruned from scan: $scan")
  }

  test("lang filter pushes into the parquet scan") {
    val df = Pipeline.run(spark,
      spark.read.parquet(pagesPath).where(col("lang") === "en"))
    val plan = df.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("EqualTo(lang,en)") || pushed.contains("IsNotNull(lang)"),
      s"no pushed filters in: $pushed")
    assert(pushed.contains("EqualTo(lang,en)"), s"lang filter not pushed: $pushed")
  }

  test("LSH exact-collapse scans the input relation once") {
    // the r2 shape scanned the corpus per subtree (md5 of every text twice
    // + an id→rep join); the single-agg + lazy-localCheckpoint shape must
    // show ZERO direct parquet re-scans — every consumer (arcs + both
    // sides of the band self-join) reads the one materialized collapsed
    // relation (a LogicalRDD leaf)
    val docs = spark.read.parquet(TestData("sf0.001/documents.parquet"))
    val out = Dedup.minHashLsh(docs, "doc_id", "text",
      shingleK = 3, numHashes = 128, bands = 32, threshold = 0.5)
    assert(out.count() > 0)
    val logical = out.queryExecution.optimizedPlan
    val fileScans = logical.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.length
    val rddScans = logical.collect {
      case m: org.apache.spark.sql.execution.LogicalRDD => m
    }.length
    assert(fileScans == 0, s"expected no direct parquet re-scan, got $fileScans:\n$logical")
    assert(rddScans >= 2, s"expected shared collapsed-relation reads, got $rddScans:\n$logical")
  }

  test("LSH shuffles carry signatures, never document text") {
    // signatures are computed map-side inside the exact-collapse, so no
    // exchange in the whole minHashLsh plan may output the text column —
    // the r3 shape shipped first(text) of every DISTINCT document through
    // the collapse shuffle (a full-corpus text shuffle on a mostly-distinct
    // corpus). Recompute mode keeps the collapse subtree visible in the
    // plan instead of hiding it behind a localCheckpoint LogicalRDD.
    // AQE off for the assertion: exchanges are only visible as plain
    // ShuffleExchangeExec nodes in a non-adaptive executedPlan (sparkPlan
    // predates EnsureRequirements; the AQE root hides its subtree)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(TestData("sf0.001/documents.parquet"))
      def exchangesOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
      val out = Dedup.minHashLsh(docs, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.5,
        materialize = Dedup.Materialize.Recompute)
      val exchanges = exchangesOf(out)
      assert(exchanges.nonEmpty, "expected at least one shuffle in the LSH plan")
      exchanges.foreach { e =>
        val names = e.child.output.map(_.name)
        assert(!names.contains("text"),
          s"text column crosses an exchange: $names")
      }
      // same pin for the unverified bucket-star path
      val arcs = Dedup.minHashBucketArcs(docs, "doc_id", "text",
        materialize = Dedup.Materialize.Recompute)
      exchangesOf(arcs).foreach { e =>
        val names = e.child.output.map(_.name)
        assert(!names.contains("text"),
          s"text column crosses an exchange (bucket arcs): $names")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("persisted IVF index prunes cell partitions at planning time") {
    val e = spark.read.parquet(TestData("sf0.001/embeddings.parquet"))
    val q = e.where(col("vec_id") === 0).select(col("embedding")).head()
      .getSeq[Float](0).toArray
    val rest = e.where(col("vec_id") =!= 0)
    val cents = Ann.kmeansCentroids(rest, "embedding", k = 16)
    val dir = Files.createTempDirectory("graft-ivf-index").toString
    Ann.writeIndex(Ann.ivfIndex(rest, "embedding", cents), cents, dir)
    val (indexed, cents2) = Ann.readIndex(spark, dir)
    assert(cents2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    val top = Ann.ivfTopK(indexed, "vec_id", "embedding", cents2, q, 10, nprobe = 4)
    // the cell predicate must reach the scan as a PARTITION filter (pruned
    // directory listing), not a post-scan row filter
    val scanLine = top.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"), s"cell not in partition filters: $scanLine")
    // and the pruned result equals the in-memory index path exactly
    val direct = Ann.ivfTopK(Ann.ivfIndex(rest, "embedding", cents), "vec_id",
      "embedding", cents, q, 10, nprobe = 4)
    assert(top.collect().map(_.getLong(0)).toSeq ==
      direct.collect().map(_.getLong(0)).toSeq)
  }

  test("customer dimension join is a broadcast hash join") {
    val plan = graft.SparkEntry.queries("q_join_agg")(spark, TestData("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("pipeline over a filtered scan is still one narrow stage") {
    val df = Pipeline.run(spark,
      spark.read.parquet(pagesPath).where(col("lang") =!= "und"))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    import spark.implicits._
    val keep = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> util.Try(spark.conf.get(k)).toOption).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // Zipf-hot host key: 75% of rows share key 0 — one reducer partition
      // would take ~75% of the join without AQE's runtime split
      val pad = "x" * 64
      val left = spark.range(0, 200000).select(
        when(col("id") < 150000, 0L).otherwise(pmod(col("id"), lit(100)) + 1).as("k"),
        concat(lit(pad), col("id").cast("string")).as("v"))
      val right = (0L to 100L).map(k => (k, s"dim-$k")).toDF("k", "d")
      // global aggregate on purpose: a groupBy(k) above the join would
      // REQUIRE hashpartitioning(k) and AQE then declines to split the
      // skewed partitions (it won't add a recovery shuffle unless forced);
      // sum/count have no distribution requirement, so the split is legal.
      // length(v) keeps the payload column alive through the join shuffle.
      val j = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(length(col("v"))).as("bytes"))
      val rows = j.collect()
      assert(rows.head.getLong(0) == 200000L)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not flag the skewed join:\n$plan")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("decontamination marking is a single narrow stage — zero Exchange") {
    // benchmark membership travels as a broadcast variable inside the UDF,
    // never as a join: the corpus-side plan must not shuffle
    val docs = spark.read.parquet(TestData("sf0.001/documents.parquet"))
    val marked = Decontam.mark(docs, "doc_id", "text",
      Array(1L, 2L, 3L), k = 13)
    val plan = marked.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decontam plan shuffles:\n$plan")
  }

  test("LM-training gram relation shuffles pre-combined partials once") {
    // the mapPartitions fold emits ≤ A^3 rows per partition; the plan must
    // show exactly ONE Exchange (the bounded final-agg shuffle), with a
    // partial aggregate below it
    val docs = spark.read.parquet(TestData("sf0.001/documents.parquet"))
    val plan = LmTrain.gramCounts(docs, "text")
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected one bounded shuffle, got $exchanges:\n$plan")
    assert(plan.contains("partial_sum"),
      s"no map-side partial aggregate below the shuffle:\n$plan")
  }

  test("langid-training scan prunes to the lang and text columns") {
    val docs = spark.read.parquet(TestData("sf0.001/documents.parquet"))
    val plan = LangIdTrain.gramCounts(docs, "lang", "text")
      .queryExecution.executedPlan.toString
    val scan = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("lang") && scan.contains("text"), scan)
    assert(!scan.contains("source") && !scan.contains("n_chars"),
      s"unused columns not pruned from scan: $scan")
  }

  test("12-weight quality score is pure Catalyst: no UDF node, no exchange") {
    val df = Pipeline.run(spark, spark.read.parquet(pagesPath),
      Pipeline.Conf(qualityModel = Some(Array.fill(QualityTrain.NF)(1.0))))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // the native page_stages expression is not a ScalaUDF; neither may the
    // model score be — it must compile to plain arithmetic over the
    // already-computed quality struct
    assert(!plan.contains("ScalaUDF"), s"UDF leaked into the native plan:\n$plan")
  }

  test("per-language toxicity row prunes the documents scan to (doc_id, text)") {
    val df = graft.SparkEntry.queries("q_toxicity_bylang")(
      spark, TestData("sf0.001"))
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("doc_id") && scan.contains("text"), scan)
    assert(!scan.contains("source") && !scan.contains("n_chars"),
      s"unused columns not pruned: $scan")
  }
}
