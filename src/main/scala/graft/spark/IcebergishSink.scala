package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import java.nio.charset.StandardCharsets.UTF_8

/** Iceberg-style partitioned sink with snapshot manifests, a per-bucket
  * completion ledger, per-partition lineage, and EXACT resume.
  *
  * No Iceberg runtime jar ships in this offline image (SURVEY.md §1.3), so
  * the layout emulates one — parquet files under `data/part_bucket=N/` plus
  * JSON metadata — behind this one object so a real catalog can be swapped in.
  *
  * ALL metadata IO goes through the Hadoop `FileSystem` API resolved from
  * the output path's scheme, so the same code runs against file:, hdfs: and
  * s3a: outputs — a java.nio implementation would silently be driver-local
  * on a real cluster. For file: outputs, data and metadata writes both use
  * [[LocalFs]], Hadoop's local filesystem without a forked `chmod` per
  * created file. Commit safety per scheme:
  *  - HDFS: `rename` is atomic; [[writeAtomic]] is write-tmp → rename.
  *  - S3A: rename is copy+delete (not atomic). The layout is rename-safe
  *    anyway because every metadata file is COMMIT-ONCE: ledger entries and
  *    snapshot manifests are only ever created (never rewritten in place),
  *    readers treat a missing/partial `.tmp` as absence, and the
  *    bucket-data directories they point at are immutable once their ledger
  *    entry exists — the standard Iceberg-style "metadata points at
  *    immutable files" commit story.
  *
  * Resume contract (north_rule): output buckets are the unit of commit. A
  * bucket directory only counts once its ledger entry exists; on resume,
  * directories WITHOUT a ledger entry are deleted and re-written, giving
  * exactly-once bucket semantics and byte-identical final content vs an
  * uninterrupted run (the pipeline is deterministic). Lineage per bucket:
  * input snapshot id, rule version, row/keep/hit counts, wall time.
  */
object IcebergishSink {

  /** Version stamp of the rule set — recorded in lineage so downstream can
    * tell which detector/quality semantics produced a partition. */
  val RuleVersion = "graft-rules-1.0"

  final case class BucketLineage(
      bucket: Int,
      rows: Long,
      keepRows: Long,
      hits: Long,
      inputSnapshot: String,
      ruleVersion: String,
      completedMs: Long)

  final case class WriteReport(
      snapshotId: String,
      bucketsWritten: Seq[Int],
      bucketsSkipped: Seq[Int],
      rows: Long,
      keepRows: Long,
      /** rows written by THIS run only (resumed runs: just the todo
        * buckets) — the correct numerator for this run's throughput. */
      rowsWritten: Long)

  private def ledgerDir(out: String): Path = new Path(out, "_ledger")
  private def dataDir(out: String): Path = new Path(out, "data")

  /** Hadoop conf of the active session when one exists (so fs.s3a.* /
    * fs.defaultFS settings apply); a bare Configuration otherwise.
    * CACHED per session (one-slot, identity-keyed): `newHadoopConf()`
    * copies the whole SQLConf into a fresh Configuration (~30 ms), and the
    * metadata layer calls this once per ledger/lineage file — at 64
    * buckets the per-call copies alone were ~2 s of the sink gate row and
    * grow O(buckets) at scale. The snapshot semantics are per SESSION:
    * hadoop/fs settings changed mid-session after the first sink call are
    * not picked up (set them before writing, as spark-submit does). */
  @volatile private var cachedConf: (SparkSession, Configuration) = _
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) =>
        val c = cachedConf
        if (c != null && (c._1 eq s)) c._2
        else {
          val conf = s.sessionState.newHadoopConf()
          cachedConf = (s, conf)
          conf
        }
      case None => new Configuration()
    }

  /** `file:` paths get [[LocalFs]]'s shim, like the data write. */
  private def fsOf(p: Path): FileSystem = LocalFs.fileSystem(p, hadoopConf)

  private def listDir(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Seq.empty else fs.listStatus(dir).toSeq

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Per-bucket (rows, keep_rows, hits) accumulated INSIDE the write job —
    * lineage at 100 TB cannot afford a second full scan of what was just
    * written. Each task owns its local copy (no contention); the driver
    * merges per-task maps. Updates ride the RESULT stage of the write
    * action, so each successful task is counted exactly once. */
  final class BucketStatsAcc
      extends org.apache.spark.util.AccumulatorV2[
        (Int, Boolean, Long), java.util.HashMap[Integer, Array[Long]]] {
    private val m = new java.util.HashMap[Integer, Array[Long]]()
    override def isZero: Boolean = m.isEmpty
    override def copy(): BucketStatsAcc = {
      val c = new BucketStatsAcc
      m.forEach((k, v) => c.m.put(k, v.clone()))
      c
    }
    override def reset(): Unit = m.clear()
    override def add(v: (Int, Boolean, Long)): Unit = {
      val a = m.computeIfAbsent(v._1, _ => new Array[Long](3))
      a(0) += 1
      if (v._2) a(1) += 1
      a(2) += v._3
    }
    override def merge(other: org.apache.spark.util.AccumulatorV2[
        (Int, Boolean, Long), java.util.HashMap[Integer, Array[Long]]]): Unit =
      other.value.forEach { (k, v) =>
        val a = m.computeIfAbsent(k, _ => new Array[Long](3))
        a(0) += v(0); a(1) += v(1); a(2) += v(2)
      }
    override def value: java.util.HashMap[Integer, Array[Long]] = m
  }

  final case class SnapshotInfo(
      snapshotId: String,
      inputSnapshot: String,
      ruleVersion: String,
      buckets: Seq[Int],
      rows: Long,
      keepRows: Long,
      createdMs: Long)

  /** All snapshot manifests under `out`, oldest first. */
  def listSnapshots(out: String): Seq[SnapshotInfo] = {
    val dir = new Path(out, "_snapshots")
    val fs = fsOf(dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    listDir(fs, dir)
      .filter(_.getPath.getName.endsWith(".json"))
      .map { st =>
        val n = mapper.readTree(readBytes(fs, st.getPath))
        val buckets = (0 until n.get("buckets").size()).map(i =>
          n.get("buckets").get(i).asText.stripPrefix("part_bucket=").toInt)
        SnapshotInfo(n.get("snapshot_id").asText, n.get("input_snapshot").asText,
          n.get("rule_version").asText, buckets, n.get("rows").asLong,
          n.get("keep_rows").asLong, n.get("created_ms").asLong)
      }.sortBy(_.createdMs)
  }

  /** Snapshot read (time-travel-lite): buckets are immutable once
    * committed, so a snapshot's view is exactly its bucket list — the
    * filter prunes whole `part_bucket=` directories at planning time.
    * Default: the latest snapshot. */
  def readSnapshot(spark: SparkSession, out: String,
                   snapshotId: Option[String] = None): DataFrame = {
    val snaps = listSnapshots(out)
    require(snaps.nonEmpty, s"no snapshots under $out")
    val snap = snapshotId match {
      case Some(id) => snaps.find(_.snapshotId == id)
        .getOrElse(sys.error(s"unknown snapshot $id"))
      case None => snaps.last
    }
    spark.read.parquet(dataDir(out).toString)
      .where(col("part_bucket").isin(snap.buckets.map(Integer.valueOf): _*))
  }

  /** Buckets already committed (ledger entry present). */
  def completedBuckets(out: String): Set[Int] = {
    val dir = ledgerDir(out)
    listDir(fsOf(dir), dir).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("bucket-") && s.endsWith(".json") =>
        s.stripPrefix("bucket-").stripSuffix(".json").toInt
      }.toSet
  }

  def readLineage(out: String): Seq[BucketLineage] = {
    val dir = ledgerDir(out)
    val fs = fsOf(dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    listDir(fs, dir)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("bucket-") && n.endsWith(".json")
      }
      .map { st =>
        val n = mapper.readTree(readBytes(fs, st.getPath))
        BucketLineage(n.get("bucket").asInt, n.get("rows").asLong,
          n.get("keep_rows").asLong, n.get("hits").asLong,
          n.get("input_snapshot").asText, n.get("rule_version").asText,
          n.get("completed_ms").asLong)
      }.sortBy(_.bucket)
  }

  /** FileContext per (scheme, authority), cached: `getFileContext`
    * constructs a fresh AbstractFileSystem per call (config re-parse,
    * ~30 ms on the local FS) and the ledger writes one metadata file per
    * bucket — at 64 buckets the per-call construction alone was 2.2 s of
    * the gate row, and at production bucket counts it is O(buckets) driver
    * time for identical context objects. FileContext is thread-safe and
    * carries no per-path state; cached per filesystem it is built once.
    * (Caveat: the first caller's Hadoop conf wins for a given scheme —
    * fine here, every caller passes the session conf.) */
  private val fcCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.hadoop.fs.FileContext]()
  private def fileContextFor(uri: java.net.URI): org.apache.hadoop.fs.FileContext =
    fcCache.computeIfAbsent(
      s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}",
      _ => org.apache.hadoop.fs.FileContext.getFileContext(uri, hadoopConf))

  /** Commit-once metadata write: content to a `.tmp` sibling, then an
    * ATOMIC-OVERWRITE rename over the target (FileContext + Rename.OVERWRITE
    * — atomic on HDFS and local FS, so there is never a window where an
    * already-committed file has been deleted but its replacement hasn't
    * landed). s3a DOES bind a FileContext (fs.AbstractFileSystem.s3a.impl)
    * and takes the same branch — its overwrite rename is internally
    * copy+delete (not atomic), which is safe HERE because every metadata
    * file is commit-once (ledger entries and snapshot manifests are only
    * ever created, see object docs). The delete+rename fallback exists for
    * filesystems with no FileContext binding at all. */
  private def writeAtomic(path: Path, content: String): Unit = {
    val fs = fsOf(path)
    val tmp = new Path(path.getParent, path.getName + ".tmp")
    val outS = fs.create(tmp, true)
    try outS.write(content.getBytes(UTF_8)) finally outS.close()
    // Fast path: plain FileSystem.rename — atomic on HDFS and the local FS
    // and sufficient whenever the target does not exist yet, which is the
    // COMMON case for this sink's commit-once metadata (ledger entries and
    // snapshot manifests are only ever created). The FileContext overwrite
    // rename below is kept for the target-exists case only: it constructs
    // per-call state deep in the Hadoop local-FS layer (measured ~28 ms
    // PER RENAME vs ~0.2 ms for FileSystem.rename — 1.8 s of the 64-bucket
    // ledger, O(buckets) at scale).
    if (fs.rename(tmp, path)) return
    try {
      val fc = fileContextFor(path.toUri)
      fc.rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // no atomic overwrite available: move any existing target ASIDE
        // (unique name) before renaming the new content in. A crash
        // between the two renames leaves the target ABSENT — readers see
        // an uncommitted file, which is safe for this sink's commit-once
        // metadata (absence means retry, never data loss) — with the
        // previous content parked recoverable under the .old name. A
        // crash after the swap can leak the .old file; harmless, because
        // every ledger/lineage reader filters on the .json suffix.
        val aside = new Path(path.getParent,
          path.getName + ".old." + java.util.UUID.randomUUID())
        val hadOld = fs.exists(path) && fs.rename(path, aside)
        if (!fs.rename(tmp, path)) {
          if (hadOld) fs.rename(aside, path)
          sys.error(s"rename $tmp -> $path failed")
        }
        if (hadOld) fs.delete(aside, false)
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    val fs = fsOf(p)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Write to `out`, skipping committed buckets, committing the rest. One
    * Spark job writes every todo bucket (scales — resume granularity is the
    * bucket, commit granularity is the job).
    *
    * `input` must carry `part_bucket`; `scoreAfterShuffle` runs AFTER the
    * bucket filter and the salted repartition — pass the pipeline here so
    * the shuffle moves raw page bytes, not the scored output (scrubbed text
    * + maps + quality struct ≈ 2× the payload; measured 1.8× faster
    * end-to-end). The default identity accepts an already-scored frame.
    * Whatever reaches the writer must carry `part_bucket`, `keep`, `n_hits`. */
  def writeResumable(spark: SparkSession, input: DataFrame, out: String,
                     conf: Pipeline.Conf = Pipeline.Conf(),
                     inputSnapshot: String = "unknown",
                     scoreAfterShuffle: DataFrame => DataFrame = identity): WriteReport = {
    val done = completedBuckets(out)
    val all = 0 until conf.numBuckets
    val todo = all.filterNot(done)
    val snapshotId = java.util.UUID.randomUUID().toString

    if (todo.nonEmpty) {
      // uncommitted bucket dirs are leftovers of an interrupted run — remove
      // them so re-append cannot duplicate rows
      todo.foreach(b => deleteRecursively(new Path(dataDir(out), s"part_bucket=$b")))

      val subset = input.where(col("part_bucket").isin(todo: _*))

      // run metrics + per-bucket lineage ride the write job itself (op 27
      // analog: the reference's X-Replaced-* headers) — NO second pass over
      // the written data. The tap replaces `part_bucket` with an identity
      // UDF that feeds the accumulator; nondeterministic so Catalyst never
      // duplicates or collapses the side effect.
      val acc = new BucketStatsAcc
      spark.sparkContext.register(acc, s"graft-bucket-stats-$snapshotId")
      // the hits total is summed INSIDE the tap UDF: a separate
      // `aggregate(map_values(...))` column is an interpreted higher-order
      // expression in the write projection — measured 1 s wall / 18 cpu-s
      // per 1M docs slower than one map-argument UDF (A/B in BENCH.md)
      val tap = udf { (bucket: Int, keep: Boolean, hits: Map[String, Long]) =>
        acc.add((bucket, keep, if (hits == null) 0L else hits.valuesIterator.sum))
        bucket
      }.asNondeterministic()
      scoreAfterShuffle(Pipeline.salted(subset, conf))
        .withColumn("part_bucket",
          tap(col("part_bucket"), col("keep"), col("n_hits")))
        .write.partitionBy("part_bucket").mode("append")
        .options(LocalFs.writerOptions(out, hadoopConf))
        // measured: dictionary encoding ON is cheaper here (257 vs 279
        // cpu-s per 1M docs) — the categorical columns repay it — EXCEPT
        // the high-cardinality string columns, where the dictionary
        // attempt always falls back per page and only burns cpu
        // (55.6 → 51 cpu-s per 1M docs in an encode A/B, BENCH.md)
        .option("parquet.enable.dictionary", "true")
        .option("parquet.enable.dictionary#scrubbed_text", "false")
        .option("parquet.enable.dictionary#url", "false")
        .parquet(dataDir(out).toString)

      val stats = {
        val b = Map.newBuilder[Int, (Long, Long, Long)]
        acc.value.forEach((k, v) => b += (k.intValue -> (v(0), v(1), v(2))))
        b.result()
      }
      val totals = stats.values.foldLeft((0L, 0L, 0L)) { case ((r, kp, h), (a, b2, c)) =>
        (r + a, kp + b2, h + c)
      }
      System.err.println(s"[sink] observed: rows=${totals._1} " +
        s"keep=${totals._2} hits=${totals._3}")

      val now = System.currentTimeMillis()
      todo.foreach { b =>
        val (rows, keeps, hits) = stats.getOrElse(b, (0L, 0L, 0L))
        writeAtomic(new Path(ledgerDir(out), s"bucket-$b.json"),
          s"""{"bucket":$b,"rows":$rows,"keep_rows":$keeps,"hits":$hits,""" +
            s""""input_snapshot":"$inputSnapshot","rule_version":"$RuleVersion",""" +
            s""""completed_ms":$now}""")
      }
    }

    val lineage = readLineage(out)
    val todoSet = todo.toSet
    val report = WriteReport(snapshotId, todo, done.toSeq.sorted,
      lineage.map(_.rows).sum, lineage.map(_.keepRows).sum,
      lineage.filter(b => todoSet(b.bucket)).map(_.rows).sum)
    val files = lineage.map(b => s""""part_bucket=${b.bucket}"""").mkString("[", ",", "]")
    writeAtomic(new Path(new Path(out, "_snapshots"), s"snap-$snapshotId.json"),
      s"""{"snapshot_id":"$snapshotId","input_snapshot":"$inputSnapshot",""" +
        s""""rule_version":"$RuleVersion","buckets":$files,""" +
        s""""rows":${report.rows},"keep_rows":${report.keepRows},""" +
        s""""written":${todo.size},"skipped":${done.size},""" +
        s""""created_ms":${System.currentTimeMillis()}}""")
    report
  }
}
