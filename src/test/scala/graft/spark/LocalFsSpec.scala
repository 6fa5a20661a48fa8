package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._

/** The `file:` shim sets the same permissions as Hadoop's stock local
  * filesystem, is selected only for local paths, and is what the sink's
  * data write and metadata IO and the IVF index writes actually go
  * through. */
class LocalFsSpec extends AnyFunSuite {
  private val conf = new Configuration()

  /** A private stock instance (not the JVM-wide cached one). */
  private def stock: FileSystem = {
    val fs = new LocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }
  private def shim: FileSystem = LocalFs.fileSystem(new Path("file:///"), conf)

  /** Fast-path count: the shim's raw class counts one write op per nio
    * chmod; stock counts none. */
  @annotation.nowarn("cat=deprecation")
  private def rawStats: FileSystem.Statistics =
    FileSystem.getStatistics("file", classOf[LocalFs.NioRawLocalFileSystem])

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & oct("7777")
  private def hp(p: JPath): Path = new Path(p.toUri)
  private def tree(root: JPath): Seq[JPath] = {
    val s = Files.walk(root)
    try s.iterator.asScala.drop(1).toVector finally s.close()
  }
  private def withTempDir[A](name: String)(f: JPath => A): A = {
    val d = Files.createTempDirectory(name)
    try f(d) finally {
      // mode-000 directories must be openable again before the delete
      tree(d).filter(Files.isDirectory(_)).foreach(p =>
        Files.setAttribute(p, "unix:mode", Integer.valueOf(oct("700"))))
      tree(d).reverse.foreach(Files.delete)
      Files.delete(d)
    }
  }

  test("setPermission leaves the same permissions as stock LocalFileSystem") {
    withTempDir("graft-localfs-modes") { dir =>
      val ops0 = rawStats.getWriteOps
      for (m <- Seq("000", "600", "644", "700", "755", "777"); dirKind <- Seq(false, true)) {
        val perm = new FsPermission(oct(m).toShort)
        val Seq(a, b) = Seq("stock", "shim").map(w => dir.resolve(s"$w-$m-$dirKind"))
        Seq(a, b).foreach(p => if (dirKind) Files.createDirectory(p) else Files.createFile(p))
        stock.setPermission(hp(a), perm)
        shim.setPermission(hp(b), perm)
        assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a),
          s"mode $m dir=$dirKind")
        assert(mode(b) == mode(a) && mode(b) == oct(m), s"mode $m dir=$dirKind")
      }
      assert(rawStats.getWriteOps - ops0 == 12, "every 9-bit mode takes the nio path")
    }
  }

  test("a sticky mode takes Hadoop's own path") {
    withTempDir("graft-localfs-sticky") { dir =>
      val d = Files.createDirectory(dir.resolve("d"))
      val ops0 = rawStats.getWriteOps
      shim.setPermission(hp(d), new FsPermission(oct("1777").toShort))
      assert(mode(d) == oct("1777"))
      assert(rawStats.getWriteOps == ops0)
    }
  }

  test("created files and directories match stock, setgid directories included") {
    withTempDir("graft-localfs-create") { dir =>
      // a setgid parent: new directories inherit the bit, and stock's
      // forked `chmod 0755` keeps it where chmod(2) would clear it
      Files.setAttribute(dir, "unix:mode", Integer.valueOf(oct("2775")))
      Seq("stock" -> stock, "shim" -> shim).foreach { case (w, fs) =>
        assert(fs.mkdirs(hp(dir.resolve(s"$w/a/b"))))
        fs.create(hp(dir.resolve(s"$w/a/b/f.bin")), true).close()
      }
      val Seq(a, b) = Seq("stock", "shim").map(dir.resolve)
      def listing(root: JPath) =
        tree(root).map(p => root.relativize(p).toString -> mode(p)).toSet
      assert(listing(b) == listing(a))
      assert(listing(b).contains("a/b/.f.bin.crc" -> oct("644")))
      assert(mode(b.resolve("a")) == oct("2755"))
    }
  }

  test("writerOptions select the shim only for file: paths") {
    val hdfsDefault = new Configuration()
    hdfsDefault.set("fs.defaultFS", "hdfs://namenode:8020")
    assert(LocalFs.writerOptions("hdfs://namenode:8020/warehouse/t", conf).isEmpty)
    assert(LocalFs.writerOptions("s3a://bucket/warehouse/t", conf).isEmpty)
    assert(LocalFs.writerOptions("/warehouse/t", hdfsDefault).isEmpty)
    val shimOpts = Map("fs.file.impl" -> classOf[LocalFs.NioLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    assert(LocalFs.writerOptions("/tmp/t", conf) == shimOpts)
    assert(LocalFs.writerOptions("file:///tmp/t", hdfsDefault) == shimOpts)
    assert(LocalFs.fileSystem(new Path("/tmp/t"), conf).isInstanceOf[LocalFs.NioLocalFileSystem])
  }

  test("a sink write goes through the shim on executors and driver, as a stock write would look") {
    val spark = SparkTestSession.spark
    val pconf = Pipeline.Conf(numBuckets = 4, saltBuckets = 2)
    val df = Pipeline.withBucket(
      Pipeline.run(spark, DataGen.pages(spark, 200, partitions = 4).toDF()), pconf).cache()
    withTempDir("graft-localfs-sink") { root =>
      val out = root.resolve("sink")
      val stats = rawStats
      val (bytes0, ops0) = (stats.getBytesWritten, stats.getWriteOps)
      IcebergishSink.writeResumable(spark, df, out.toString, pconf, "s")
      val written = tree(out)
      val files = written.filter(Files.isRegularFile(_))
      // every byte in the table (parquet + .crc on the executors, ledger
      // and snapshot on the driver) went through the shim, and every file
      // and directory got its mode from the nio path
      assert(stats.getBytesWritten - bytes0 >= files.map(Files.size(_)).sum)
      assert(stats.getWriteOps - ops0 >= written.size)
      assert(files.exists(_.getFileName.toString.endsWith(".parquet")))
      assert(files.exists(_.toString.contains("_ledger")))

      // driver side alone: a rerun over the committed table writes only its
      // snapshot manifest
      val ops1 = stats.getWriteOps
      assert(IcebergishSink.writeResumable(spark, df, out.toString, pconf, "s")
        .bucketsWritten.isEmpty)
      assert(stats.getWriteOps - ops1 >= 2)

      // a plain write keeps the JVM's stock filesystem, and shows the modes
      // and sidecars a stock write produces
      val stockOut = root.resolve("stock")
      val ops2 = stats.getWriteOps
      df.write.partitionBy("part_bucket").parquet(stockOut.resolve("data").toString)
      stock.create(hp(stockOut.resolve("_ledger/bucket-0.json")), true).close()
      assert(stats.getWriteOps == ops2)
      def modes(r: JPath) = tree(r).map(p => Files.isDirectory(p) -> mode(p)).toSet
      assert(modes(out) == modes(stockOut))
      assert(modes(out).map(_._1) == Set(true, false))
      val (crcs, plain) = files.partition(_.getFileName.toString.endsWith(".crc"))
      assert(plain.forall(f => crcs.contains(f.resolveSibling(s".${f.getFileName}.crc"))))

      // the IVF index's writes (data, centroids, an append, tombstones)
      // take the same path
      import spark.implicits._
      val vecs = (0L until 40L).map(i =>
        (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11).toFloat))).toDF("vec_id", "embedding")
      val cents = Array(Array(0f, 0f, 0f, 0f), Array(5f, 5f, 5f, 5f), Array(10f, 0f, 10f, 0f))
      val index = root.resolve("ivf")
      val (bytes3, ops3) = (stats.getBytesWritten, stats.getWriteOps)
      Ann.writeIndex(Ann.ivfIndex(vecs.where($"vec_id" < 30), "embedding", cents),
        cents, index.toString)
      Ann.appendToIndex(spark, index.toString, vecs.where($"vec_id" >= 30), "embedding")
      Ann.deleteFromIndex(spark, index.toString, Seq(3L, 31L).toDF("vec_id"))
      val indexFiles = tree(index).filter(Files.isRegularFile(_))
      assert(Seq("data", "centroids", "tombstones").forall(d =>
        indexFiles.exists(_.startsWith(index.resolve(d)))))
      assert(stats.getBytesWritten - bytes3 >= indexFiles.map(Files.size(_)).sum)
      assert(stats.getWriteOps - ops3 > 0)
    }
    df.unpersist()
  }
}
