package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k, expressed entirely with native
  * higher-order functions (`zip_with`/`aggregate` stay inside whole-stage
  * codegen — no UDF boxing in the hot loop).
  *
  * Scale path: random-hyperplane LSH — each vector gets a `nBits`-bit sign
  * signature against a deterministic hyperplane set; queries probe their own
  * bucket plus all hamming-1 neighbors (multiprobe), so the scan narrows from
  * N to the bucket population while recall stays high. At cluster scale the
  * bucketed table would be written bucketed-by signature so probes become
  * partition-pruned scans.
  */
object Ann {

  /** Cosine similarity between two float-array columns (double math). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, v) => s + v)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (s, v) => s + v))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0d), (s, v) => s + v))
    dot / (na * nb + lit(1e-12))
  }

  /** Integer-quantized dot product (floor(double(x)*1000) per element) —
    * exact and summation-order-independent, so an SQL oracle reproduces it.
    *
    * Implemented as a primitive-loop UDF rather than `zip_with`/`aggregate`:
    * Spark's higher-order array functions are interpreted (excluded from
    * whole-stage codegen), which costs ~10× on all-pairs workloads. The
    * float→double cast is exact; both engines then do the same IEEE double
    * multiply, so floor() agrees bit-for-bit with the DuckDB oracle. */
  val dotQuantizedUdf = org.apache.spark.sql.functions.udf {
    (a: Array[Float], b: Array[Float]) =>
      var s = 0L
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        s += math.floor(a(i).toDouble * 1000).toLong *
          math.floor(b(i).toDouble * 1000).toLong
        i += 1
      }
      s
  }

  def dotQuantized(a: Column, b: Column): Column = dotQuantizedUdf(a, b)

  /** Brute-force top-k by cosine against one query vector. */
  def bruteForceTopK(df: DataFrame, idCol: String, embCol: String,
                     query: Array[Float], k: Int): DataFrame = {
    val qc = typedLit(query)
    df.select(col(idCol), cosine(col(embCol), qc).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic hyperplane set: plane i, dim j from a seeded splitmix64
    * stream (no RNG state shipped — recomputable anywhere). */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] =
    Array.tabulate(nBits) { i =>
      Array.tabulate(dim) { j =>
        var x = seed + i.toLong * 1000003L + j.toLong + 0x9e3779b97f4a7c15L
        x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
        x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
        x = x ^ (x >>> 31)
        // map to [-1, 1)
        ((x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat
      }
    }

  /** Sign signature of an embedding against the planes.
    *
    * One primitive-loop UDF computing the WHOLE signature — not per-plane
    * `zip_with`/`aggregate` columns: Spark's higher-order array functions are
    * interpreted (excluded from whole-stage codegen), so nBits×tables of them
    * cost ~10× on a full-table scan (same lesson as [[dotQuantizedUdf]]). */
  def signature(emb: Column, planes: Array[Array[Float]]): Column =
    signatureUdf(planes)(emb)

  /** One primitive-loop signature computation, shared by every consumer
    * (bucketing UDF, candidate predicate, driver-side query signatures) —
    * and mirrored bit-for-bit by the CPython oracle twin. */
  def signatureOf(v: Array[Float], planes: Array[Array[Float]]): Long = {
    var s = 0L
    var i = 0
    while (i < planes.length) {
      val p = planes(i)
      var d = 0.0
      var j = 0
      val n = math.min(p.length, v.length)
      while (j < n) { d += p(j).toDouble * v(j); j += 1 }
      if (d >= 0) s |= (1L << i)
      i += 1
    }
    s
  }

  def signatureUdf(planes: Array[Array[Float]]) =
    org.apache.spark.sql.functions.udf((v: Array[Float]) => signatureOf(v, planes))

  /** Engine-independent content hash of a vector: splitmix64 chained over
    * the integer-quantized elements (floor(x·1000)) — deterministic,
    * layout-independent, and reproducible outside the JVM. */
  def vecHash(v: Array[Float]): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < v.length) {
      var x = h ^ math.floor(v(i).toDouble * 1000).toLong
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      h = x ^ (x >>> 31)
      i += 1
    }
    h
  }

  /** Exact row count of a parquet file/directory from file FOOTERS only —
    * a driver-side metadata read, NO Spark job. Feeds
    * [[kmeansCentroids]]'s `rowEstimate` so the sampling fraction is known
    * without the full-table count() job (at 100 TB that job is a complete
    * extra pass). Exact, so the effective sampling `mod` — and therefore
    * the CPython-twinned centroids — are identical to the count() path. */
  def parquetRowCount(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // recursive walk: partitioned datasets nest files under part=X/ dirs —
    // a top-level-only listing would silently undercount them
    def walk(st: org.apache.hadoop.fs.FileStatus): Iterator[org.apache.hadoop.fs.FileStatus] =
      if (st.isFile) Iterator.single(st)
      else fs.listStatus(st.getPath).iterator
        .filter { c =>
          val n = c.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        .flatMap(walk)
    walk(fs.getFileStatus(root)).map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Deterministic Lloyd's k-means over a driver-side sample — the coarse
    * quantizer for IVF. The sample bound keeps the driver O(sample×dim);
    * at cluster scale the sample comes from `df.sample` + `limit`, which is
    * exactly what this does. */
  def kmeansCentroids(df: DataFrame, embCol: String, k: Int, iters: Int = 10,
                      sampleN: Int = 4096, seed: Long = 42L,
                      rowEstimate: Long = -1L): Array[Array[Float]] = {
    // UNIFORM sample — a bare limit(sampleN) takes the first partitions in
    // file order, biasing centroids to the head of the table. Instead:
    // hash-mod filter (layout-independent, uniform over the whole table,
    // expected ~2×sampleN survivors so the collect stays bounded), then a
    // strided driver-side downsample to sampleN — no head bias anywhere.
    // The hash is [[vecHash]] (splitmix over the quantized vector), NOT
    // Spark's internal hash(): an engine-independent function, so the
    // CPython oracle twin reproduces the centroids exactly.
    // callers that already know (or can bound) the row count pass it via
    // `rowEstimate` and save this extra full-table job — only the sampling
    // FRACTION depends on it, so an estimate is fine
    val n = if (rowEstimate > 0) rowEstimate else df.count()
    val mod = math.max(1L, n / (2L * sampleN))
    val hashUdf = org.apache.spark.sql.functions.udf(
      (v: Array[Float]) => vecHash(v))
    val picked = df.select(col(embCol))
      .where(pmod(hashUdf(col(embCol)), lit(mod)) === 0)
      .collect().map(_.getSeq[Float](0).toArray)
      // collect order is partition order — sort by content hash (tie-broken
      // by the quantized vector itself: distinct vectors with identical
      // quantization would otherwise keep partition-dependent order) so the
      // centroids are identical for any partition layout / parallelism
      .sortBy(v => (vecHash(v),
        v.map(x => math.floor(x.toDouble * 1000).toLong).mkString(",")))
    val sample =
      if (picked.length <= sampleN) picked
      else Array.tabulate(sampleN)(i => picked((i.toLong * picked.length / sampleN).toInt))
    require(sample.length >= k, s"need >= $k sample vectors")
    val dim = sample(0).length
    // deterministic init: evenly strided points of the hash-ordered sample
    // (hash order ≈ random order, so strides are a uniform draw; farthest-
    // point init was tried and picks outliers as seeds on noisy data)
    var cents = Array.tabulate(k)(i => sample((i.toLong * sample.length / k).toInt).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearestCentroid(v, cents)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(j => (sums(c)(j) / counts(c)).toFloat)
      }
    }
    cents
  }

  private def nearestCentroid(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0
      var j = 0
      while (j < v.length) {
        val x = v(j).toDouble - cents(c)(j)
        d += x * x
        j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** IVF index: assign every row to its nearest coarse centroid (broadcast
    * centroids, narrow map). At cluster scale the result is written
    * partitioned/bucketed by `cell` so probes prune whole files. */
  def ivfIndex(df: DataFrame, embCol: String,
               centroids: Array[Array[Float]]): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    val assign = org.apache.spark.sql.functions.udf((v: Array[Float]) =>
      nearestCentroid(v, bc.value))
    df.withColumn("cell", assign(col(embCol)))
  }

  /** Persist an IVF index as a CELL-PARTITIONED table — the cluster-scale
    * form of [[ivfIndex]]: probes against [[readIndex]] become
    * planning-time partition pruning (only the nprobe nearest cells' files
    * are ever listed/read; PlanSpec pins the PartitionFilters). Centroids
    * ride along as a one-row sidecar so the index is self-contained. */
  def writeIndex(indexed: DataFrame, centroids: Array[Array[Float]],
                 path: String): Unit = {
    val spark = indexed.sparkSession
    val fsOpts = LocalFs.writerOptions(path, spark.sessionState.newHadoopConf())
    indexed.write.mode("overwrite").options(fsOpts).partitionBy("cell")
      .parquet(s"$path/data")
    import spark.implicits._
    Seq(centroids.map(_.toSeq).toSeq).toDF("centroids")
      .coalesce(1).write.mode("overwrite").options(fsOpts).parquet(s"$path/centroids")
  }

  /** (indexed table, centroids) back from [[writeIndex]] output. When a
    * tombstone table exists ([[deleteFromIndex]]), deleted ids are removed
    * by a BROADCAST left-anti join above the scan — the `cell` predicate
    * of a probe still pushes below it into the partitioned scan, so
    * planning-time pruning survives maintenance (pinned by
    * IvfMaintenanceSpec). */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): (DataFrame, Array[Array[Float]]) = {
    val cents = spark.read.parquet(s"$path/centroids")
      .head().getSeq[scala.collection.Seq[Float]](0).map(_.toArray).toArray
    val data = spark.read.parquet(s"$path/data")
    val tombPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = tombPath.getFileSystem(spark.sessionState.newHadoopConf())
    val df =
      if (fs.exists(tombPath)) {
        val tomb = spark.read.parquet(s"$path/tombstones")
        // join key = the tombstone table's own (single) column name, so no
        // id-column parameter has to be threaded through
        data.join(broadcast(tomb), tomb.columns.toSeq, "left_anti")
      } else data
    (df, cents)
  }

  // ---- index maintenance (append + tombstone delete, no rebuild) ----------

  /** Append new vectors WITHOUT a rebuild: assign them to the EXISTING
    * centroids and append cell-partitioned files — new files land inside
    * the existing `cell=N/` directories, so probes keep pruning at
    * planning time. Appends do not move centroids: as appended data
    * drifts from the trained quantizer, recall decays (see
    * [[indexStats]] for the rebuild threshold).
    *
    * Tombstones are PERMANENT for an id (no sequence numbers): the read
    * anti-join would silently hide a re-inserted deleted id, so when the
    * appended frame carries the tombstone id column this THROWS on any
    * overlap — re-inserting a deleted id requires a rebuild. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    df: DataFrame, embCol: String): Unit = {
    val cents = spark.read.parquet(s"$path/centroids")
      .head().getSeq[scala.collection.Seq[Float]](0).map(_.toArray).toArray
    val tombPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = tombPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(tombPath)) {
      val tomb = spark.read.parquet(s"$path/tombstones")
      val idCol = tomb.columns(0)
      if (df.columns.contains(idCol)) {
        val clash = df.join(broadcast(tomb), Seq(idCol), "left_semi").limit(1)
        require(clash.isEmpty,
          s"appendToIndex: frame contains tombstoned $idCol values — a " +
            "tombstone is permanent for an id; rebuild the index to re-insert")
      }
    }
    // Schema guard: a parquet append with divergent or reordered columns
    // would not fail here — it surfaces as null columns or a failed merge
    // at the NEXT readIndex. Require the appended frame to produce exactly
    // the stored column set, and write in the stored order.
    val stored = spark.read.parquet(s"$path/data").columns
    val indexed = ivfIndex(df, embCol, cents)
    require(indexed.columns.sorted.sameElements(stored.sorted),
      s"appendToIndex: appended columns ${indexed.columns.sorted.toSeq} do " +
        s"not match the index schema ${stored.sorted.toSeq} — appends must " +
        "carry exactly the indexed columns")
    indexed.select(stored.map(col).toSeq: _*).write.mode("append")
      .options(LocalFs.writerOptions(path, spark.sessionState.newHadoopConf()))
      .partitionBy("cell").parquet(s"$path/data")
  }

  /** Tombstone deletes: append the ids to `path/tombstones`; readers
    * anti-join them out. Rows are never rewritten — delete cost is O(ids),
    * the Iceberg/Delta merge-on-read shape. The id column name must exist
    * in the data schema (a typo would otherwise surface only as an
    * AnalysisException at the next [[readIndex]]); ids are deduplicated
    * within the call, and [[indexStats]] counts DISTINCT tombstones so
    * retried delete jobs cannot skew the rebuild threshold. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      ids: DataFrame): Unit = {
    require(ids.columns.length == 1,
      s"tombstone frame must have exactly the id column, got ${ids.columns.toSeq}")
    val data = spark.read.parquet(s"$path/data")
    require(data.columns.contains(ids.columns(0)),
      s"tombstone column '${ids.columns(0)}' is not a column of the index " +
        s"data (${data.columns.toSeq})")
    // Only ids that actually exist in the index become tombstones: a
    // delete of an absent / never-indexed id would otherwise skew
    // indexStats.liveRows (dataRows - tombs assumes 1 tombstone = 1 row)
    // and could fire needsRebuild early. The semi-join costs one scan of
    // the (pruned-to-one-column) index per maintenance call.
    ids.distinct().join(data, ids.columns.toSeq, "left_semi")
      .write.mode("append")
      .options(LocalFs.writerOptions(path, spark.sessionState.newHadoopConf()))
      .parquet(s"$path/tombstones")
  }

  final case class IndexStats(liveRows: Long, tombstones: Long,
                              cells: Int, needsRebuild: Boolean)

  /** Maintenance stats. Data rows come from parquet FOOTERS only (driver
    * metadata read, no job over the data); the tombstone count is a
    * DISTINCT count via one tiny Spark job over the tombstone table alone
    * (tombstones are delete-request-sized, and retried delete jobs append
    * duplicate rows a raw footer count would double-count). `liveRows`
    * assumes a tombstoned id matched exactly one data row — the invariant
    * [[appendToIndex]]'s overlap check maintains. Rebuild threshold:
    * tombstones > `maxTombstoneFrac` of the data rows — beyond that every
    * probe pays a large anti-join against rows that should not exist, and
    * (because appends never move the quantizer) a large rewritten
    * fraction also signals centroid drift. Rebuild = writeIndex over
    * `readIndex(...)._1` with fresh [[kmeansCentroids]]. */
  def indexStats(spark: org.apache.spark.sql.SparkSession, path: String,
                 maxTombstoneFrac: Double = 0.2): IndexStats = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val dataPath = new Path(s"$path/data")
    val fs = dataPath.getFileSystem(conf)
    val cells = fs.listStatus(dataPath)
      .count(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
    val dataRows = parquetRowCount(spark, s"$path/data")
    val tombPath = new Path(s"$path/tombstones")
    val tombs =
      if (fs.exists(tombPath))
        spark.read.parquet(s"$path/tombstones").distinct().count()
      else 0L
    // clamped defensively: deleteFromIndex only records existing ids, but
    // a tombstone table written by an older version (or by hand) may not
    // honor that invariant
    IndexStats(math.max(0L, dataRows - tombs), tombs, cells,
      needsRebuild = dataRows > 0 && tombs.toDouble / dataRows > maxTombstoneFrac)
  }

  /** Rebuild the index in place: re-cluster the SURVIVING rows (tombstones
    * anti-joined out by [[readIndex]]) with fresh centroids, then atomically
    * swap the new index in and drop the tombstone table. This is the
    * [[indexStats]] `needsRebuild` remediation — it restores probe cost
    * (no more anti-join against dead rows), re-fits the quantizer to the
    * post-append distribution, and lifts the permanent-tombstone rule for
    * the deleted ids (they no longer exist anywhere, so re-insertion is
    * safe again). The new index is built COMPLETELY in a side directory
    * while the old one keeps serving; the swap is two FS renames, so a
    * crashed rebuild never leaves a half-written index at `path`.
    *
    * @param k cell count for the new quantizer; 0 (default) keeps the old
    *          one's cell count. Returns the post-rebuild stats. */
  def rebuildIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   embCol: String, k: Int = 0): IndexStats = {
    import org.apache.hadoop.fs.Path
    val (live0, oldCents) = readIndex(spark, path)
    val kk = if (k > 0) k else oldCents.length
    val live = live0.drop("cell")
    val cents = kmeansCentroids(live, embCol, kk)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(path + ".rebuild-tmp")
    val old = new Path(path + ".rebuild-old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    // old index still serves reads while the new one materializes here.
    // RECOVERY NOTE: the swap below is two sequential renames, and they
    // are copy+delete (not atomic) on object stores — a crash between them
    // leaves no index at `path` with the previous data intact at
    // `<path>.rebuild-old`; recover by renaming `.rebuild-old` back to
    // `path` (or re-running rebuildIndex against it) before serving reads.
    writeIndex(ivfIndex(live, embCol, cents), cents, tmp.toString)
    require(fs.rename(p, old), s"rebuildIndex: rename $p -> $old failed")
    require(fs.rename(tmp, p), s"rebuildIndex: rename $tmp -> $p failed")
    fs.delete(old, true) // tombstones die with the old tree
    indexStats(spark, path)
  }

  /** IVF top-k: scan only the `nprobe` cells nearest the query, exact cosine
    * within them. Recall/latency tuned by (k-cells, nprobe). */
  def ivfTopK(indexed: DataFrame, idCol: String, embCol: String,
              centroids: Array[Array[Float]], query: Array[Float],
              k: Int, nprobe: Int): DataFrame = {
    val order = centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      while (j < query.length) { val x = query(j).toDouble - c(j); d += x * x; j += 1 }
      (i, d)
    }.sortBy(_._2).take(nprobe).map(_._1)
    indexed.where(col("cell").isin(order.map(Integer.valueOf).toSeq: _*))
      .select(col(idCol), cosine(col(embCol), typedLit(query)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** LSH top-k: `tables` independent hyperplane sets; a row is a candidate if
    * ANY table puts it within hamming distance ≤ 2 of the query's signature
    * (multiprobe). Candidates are then ranked by exact cosine. Multiple
    * tables + multiprobe is the standard recall lever — a single random-
    * hyperplane table has recall ≈ p^nBits which collapses for mid-similarity
    * neighbors. At cluster scale the signature columns are precomputed and
    * the table is bucketed by them, turning probes into pruned scans. */
  def lshTopK(df: DataFrame, idCol: String, embCol: String,
              query: Array[Float], k: Int, nBits: Int = 12,
              tables: Int = 3, seed: Long = 42L): DataFrame = {
    val dim = query.length
    val allPlanes = (0 until tables).map(t => hyperplanes(nBits, dim, seed + t * 7919L))
    val qSig: Array[Long] = allPlanes.map(signatureOf(query, _)).toArray
    // one primitive-loop UDF across all tables, short-circuiting on the
    // first table that admits the row — the scan stays in one codegen stage
    // with a single non-codegen leaf instead of `tables` interpreted trees
    val planesArr = allPlanes.toArray
    val candUdf = org.apache.spark.sql.functions.udf { (v: Array[Float]) =>
      var t = 0
      var cand = false
      while (!cand && t < planesArr.length) {
        cand = java.lang.Long.bitCount(signatureOf(v, planesArr(t)) ^ qSig(t)) <= 2
        t += 1
      }
      cand
    }
    df.where(candUdf(col(embCol)))
      .select(col(idCol), cosine(col(embCol), typedLit(query)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}
