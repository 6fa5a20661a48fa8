package graft.spark

import graft.core.TextDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Correctness of the approximate dedup/ANN paths against their exact
  * (brute-force) twins on the sf0.001 test tables. */
class DedupAnnSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = TestData("sf0.001")

  private def docsDedup = {
    val base = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    base.unionAll(base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      .unionAll(base.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zz yy xx")).as("text")))
  }

  test("exact dedup keeps one representative per text and counts copies") {
    val reps = Dedup.exact(docsDedup, "doc_id", "text").collect()
    assert(reps.length == 572) // 500 distinct + 72 near-copies (unique text)
    val dupReps = reps.filter(_.getLong(1) > 1)
    assert(dupReps.length == 50) // doc_id % 10 == 0 exact copies
    assert(dupReps.forall(r => r.getLong(0) % 10 == 0 && r.getLong(0) < 2000000))
  }

  /** Union-find components from an edge set. */
  private def components(edges: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("minhash LSH clusters every planted near-dup pair found by exact jaccard") {
    val exact = Dedup.jaccardPairs(docsDedup, "doc_id", "text", 3, minSimMilli = 800)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLsh(docsDedup, "doc_id", "text", 3, 128, 32, 0.7)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "exact jaccard found no pairs — planted dups missing")
    // contract: a sufficient edge set — every true pair lands in one
    // LSH connected component (not necessarily as a direct edge)
    val comp = components(lsh)
    val clustered = exact.count { case (a, b) =>
      comp.get(a).exists(ca => comp.get(b).contains(ca))
    }
    val recall = clustered.toDouble / exact.size
    assert(recall >= 0.95, s"LSH cluster recall $recall over ${exact.size} true pairs")
  }

  test("all Materialize modes yield identical near-dup relations") {
    def pairs(m: Dedup.Materialize) =
      Dedup.minHashLsh(docsDedup, "doc_id", "text", 3, 128, 32, 0.7,
        materialize = m)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def arcs(m: Dedup.Materialize) =
      Dedup.minHashBucketArcs(docsDedup, "doc_id", "text", materialize = m)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = pairs(Dedup.Materialize.LocalCheckpoint)
    assert(pairs(Dedup.Materialize.Recompute) == base, "Recompute diverged")
    val baseArcs = arcs(Dedup.Materialize.LocalCheckpoint)
    assert(arcs(Dedup.Materialize.Recompute) == baseArcs)
  }

  test("mass duplicates: 10k copies yield k-1 linear arcs, not a k^2 band join") {
    import spark.implicits._
    val copies = (0L until 10000L).map(i => (i, "the same viral page text repeated everywhere"))
      .toDF("doc_id", "text")
      .unionAll(Seq((20000L, "a completely different document about rivers"))
        .toDF("doc_id", "text"))
    val out = Dedup.minHashLsh(copies, "doc_id", "text", 3, 128, 32, 0.7)
    val rows = out.collect()
    // star arcs to the min-id representative only — linear, never quadratic
    assert(rows.length == 9999, s"expected 9999 arcs, got ${rows.length}")
    assert(rows.forall(r => r.getLong(0) == 0L && r.getDouble(2) == 1.0))
  }

  test("minhash signature similarity estimates true jaccard within 0.15") {
    val rows = docsDedup.where(col("doc_id") % 7 === 0 && col("doc_id") < 1000)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    rows.take(10).foreach { case (id, text) =>
      val near = text + " zz yy xx"
      val truth = TextDedup.jaccard(
        TextDedup.shingles(text, 3).distinct, TextDedup.shingles(near, 3).distinct)
      val est = TextDedup.sigSimilarity(
        TextDedup.minHash(text, 3, 128), TextDedup.minHash(near, 3, 128))
      assert(math.abs(truth - est) < 0.15, s"id=$id truth=$truth est=$est")
    }
  }

  test("simhash equi-join candidates equal brute-force hamming<=3 pairs") {
    val hashes = docsDedup.collect().map(r => (r.getLong(0), TextDedup.simHash(r.getString(1))))
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes
      if a < b && TextDedup.hamming(ha, hb) <= 3
    } yield (a, b)).toSet
    val dist = Dedup.simHashDups(docsDedup, "doc_id", "text", 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dist == brute, s"distributed=${dist.size} brute=${brute.size}")
  }

  test("embedding near-dup LSH: subset of exact, recall >= 0.85 on planted near-dups") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    // plant near-duplicates (cosine ≈ 0.98): deterministic small perturbation
    val near = e.where(col("vec_id") % 5 === 0).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        x * lit(0.98) + lit(0.02) * sin(i.cast("double") + col("vec_id").cast("double")))
        .cast("array<float>").as("embedding"))
    val aug = e.unionByName(near)
    // threshold: just under the weakest planted pair's exact quantized dot
    val plantedDots = Dedup.embeddingNearDups(aug, "vec_id", "embedding", 0L)
      .where(col("b") >= 1000000L && col("b") - 1000000L === col("a"))
      .collect().map(_.getLong(2))
    assert(plantedDots.nonEmpty)
    val th = plantedDots.min
    val exact = Dedup.embeddingNearDups(aug, "vec_id", "embedding", th)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupsLsh(aug, "vec_id", "embedding", th)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact tier rejects")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.85, s"recall $recall over ${exact.size} exact pairs")
    // the planted pairs specifically are nearly all caught
    val planted = e.where(col("vec_id") % 5 === 0).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    val plantedCaught = (planted & lsh).size.toDouble / planted.size
    assert(plantedCaught >= 0.85, s"planted recall $plantedCaught")
  }

  test("embedding LSH: 10k identical vectors yield k-1 star arcs; empty input is empty") {
    import spark.implicits._
    val vec = Array.fill(8)(0.5f)
    val copies = (0L until 10000L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupsLsh(copies, "vec_id", "embedding",
      minDotQ = 1L, nBits = 6, tables = 2).collect()
    assert(out.length == 9999, s"expected 9999 arcs, got ${out.length}")
    assert(out.forall(_.getLong(0) == 0L))
    val empty = copies.where(lit(false))
    assert(Dedup.embeddingNearDupsLsh(empty, "vec_id", "embedding", 1L).count() == 0)
  }

  test("LSH ANN top-10 recall >= 0.7 vs brute force") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.where(col("vec_id") === 7).select("embedding").head().getSeq[Float](0).toArray
    val rest = e.where(col("vec_id") =!= 7)
    val brute = Ann.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val lsh = Ann.lshTopK(rest, "vec_id", "embedding", q, 10, nBits = 6)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.7, s"ANN recall $recall brute=$brute lsh=$lsh")
  }

  test("IVF: mean top-10 recall >= 0.7 at half-probe; full probe == brute force") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    // recall on near-random synthetic vectors is per-query noisy — assert
    // the MEAN over a query panel, plus the algebraic sanity that probing
    // every cell reproduces brute force exactly
    val queries = Seq(3L, 7L, 11L, 19L, 23L, 42L, 77L, 101L, 150L, 200L)
    var recallSum = 0.0
    queries.foreach { qid =>
      val q = e.where(col("vec_id") === qid).select("embedding").head()
        .getSeq[Float](0).toArray
      val rest = e.where(col("vec_id") =!= qid)
      val cents = Ann.kmeansCentroids(rest, "embedding", k = 16)
      val indexed = Ann.ivfIndex(rest, "embedding", cents).cache()
      val brute = Ann.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      val half = Ann.ivfTopK(indexed, "vec_id", "embedding", cents, q, 10, nprobe = 8)
        .collect().map(_.getLong(0)).toSet
      recallSum += (brute & half).size.toDouble / brute.size
      if (qid == 3L) {
        val full = Ann.ivfTopK(indexed, "vec_id", "embedding", cents, q, 10, nprobe = 16)
          .collect().map(_.getLong(0)).toSet
        assert(full == brute, s"full probe must equal brute force: $full vs $brute")
        // the probe really prunes: 8 probed cells hold under the table
        val scanned = indexed.count()
        val probed = indexed.where(col("cell").isin(
          cents.indices.sortBy { i =>
            var d = 0.0; var j = 0
            while (j < q.length) { val x = q(j).toDouble - cents(i)(j); d += x * x; j += 1 }
            d
          }.take(8).map(Integer.valueOf): _*)).count()
        assert(probed < scanned, s"probe did not prune: $probed of $scanned")
      }
      indexed.unpersist()
    }
    val mean = recallSum / queries.size
    assert(mean >= 0.7, s"mean IVF recall $mean over ${queries.size} queries")
  }

  test("quantized dot ranking agrees with cosine ranking on top result") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val rest = e.where(col("vec_id") =!= 0)
    val byCos = Ann.bruteForceTopK(rest, "vec_id", "embedding", q, 3)
      .collect().map(_.getLong(0))
    val byDot = rest.select(col("vec_id"),
        Ann.dotQuantized(col("embedding"), typedLit(q)).as("d"))
      .orderBy(col("d").desc, col("vec_id")).limit(3)
      .collect().map(_.getLong(0))
    assert(byCos.head == byDot.head,
      s"cos=${byCos.mkString(",")} dot=${byDot.mkString(",")}")
  }

  test("components: a 1000-node path converges via pointer jumping") {
    import spark.implicits._
    // diameter 999 — hash-min alone needs ~999 rounds; pointer jumping
    // must converge inside the default maxIters=50 (O(log diameter))
    val nodes = (0L until 1000L).toDF("id")
    val edges = (0L until 999L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.components(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 1000 && out.values.forall(_ == 0L))
  }

  test("components: driver union-find and distributed hash-min loop agree") {
    import spark.implicits._
    // chain + triangle + singletons, run through BOTH execution paths:
    // the default small-graph driver union-find, and the RDD loop forced
    // by a zero driver threshold (keeps the at-scale path covered)
    val nodes = (1L to 11L).toDF("id")
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (5L, 4L), (6L, 5L),
      (8L, 7L), (9L, 8L), (7L, 9L)).toDF("a", "b")
    val viaDriver = Dedup.components(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try {
      val viaLoop = Dedup.components(nodes, edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaDriver == viaLoop)
    } finally spark.conf.unset("spark.graft.cc.driverMaxEdges")
  }

  test("simhash mass duplicates: 3k identical copies collapse before the chunk join") {
    import spark.implicits._
    // 3k identical texts + one distinct: the chunk equi-join must see TWO
    // distinct texts (the collapse guard), while the OUTPUT contract —
    // every within-group pair at distance 0 — is preserved by expansion
    val copies = (0L until 3000L).map(i => (i, "the same viral page text repeated everywhere"))
      .toDF("doc_id", "text")
      .unionAll(Seq((20000L, "a completely different document about rivers"))
        .toDF("doc_id", "text"))
    val out = Dedup.simHashDups(copies, "doc_id", "text", 3)
    assert(out.where(col("dist") =!= 0).count() == 0L)
    assert(out.count() == 3000L * 2999L / 2L)
  }

  test("components: chains need multiple propagation rounds; singletons keep themselves") {
    import spark.implicits._
    // a 6-node chain (diameter 5 — forces >1 hash-min round), a triangle,
    // and two singletons
    val nodes = (1L to 11L).toDF("id")
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (5L, 4L), (6L, 5L), // chain 1-2-3-4-5-6
      (8L, 7L), (9L, 8L), (7L, 9L)                      // triangle 7-8-9
    ).toDF("a", "b")
    val out = Dedup.components(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 6L).foreach(i => assert(out(i) == 1L, s"chain node $i -> ${out(i)}"))
    (7L to 9L).foreach(i => assert(out(i) == 7L, s"triangle node $i -> ${out(i)}"))
    assert(out(10L) == 10L && out(11L) == 11L)
    assert(out.size == 11)
  }
}
