package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** The `file:` binding `SparkEntry.tune` installs writes what Hadoop's
  * stock local filesystem writes: the same modes on files and directories,
  * the same `.crc` siblings, and it is installed once per JVM without
  * overriding a binding the user chose. */
class LocalFsSpec extends SparkSuite {

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val nio = raw(new NioRawLocalFileSystem)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def hpath(p: JPath): Path = new Path(p.toUri)

  /** Applies `perm` to a fresh file or directory under each filesystem and
    * returns the (stock, nio) modes read back. */
  private def twin(perm: Int, dir: Boolean): (Int, Int) = {
    def one(fs: RawLocalFileSystem): Int = {
      val p = Files.createTempDirectory("localfs").resolve("x")
      if (dir) Files.createDirectory(p) else Files.createFile(p)
      fs.setPermission(hpath(p), new FsPermission(perm.toShort))
      mode(p)
    }
    (one(stock), one(nio))
  }

  test("(a) nio setPermission leaves the modes stock chmod leaves, files and directories") {
    for (perm <- Seq(0x1a4, 0x1a0, 0x180, 0x1ed, 0x1c0, 0x1ff); dir <- Seq(false, true)) {
      val (s, n) = twin(perm, dir)
      assert(s == perm && n == s, f"perm $perm%o dir=$dir: stock $s%o nio $n%o")
    }
    // the create / mkdirs paths reach setPermission with the umasked mode
    val a = Files.createTempDirectory("localfs")
    val b = Files.createTempDirectory("localfs")
    val perm = new FsPermission(0x1e8.toShort) // 0750
    Seq(a -> stock, b -> nio).foreach { case (root, fs) =>
      assert(fs.mkdirs(hpath(root.resolve("d/e")), perm))
      fs.create(hpath(root.resolve("d/e/f")), perm, true, 4096, 1.toShort, 1L << 20, null).close()
    }
    for (rel <- Seq("d", "d/e", "d/e/f"))
      assert(mode(a.resolve(rel)) == mode(b.resolve(rel)), rel)
  }

  test("(b) sticky and set-gid directory modes go through stock chmod") {
    val (s, n) = twin(0x3ff, dir = true) // 01777
    assert(s == 0x3ff && n == s, f"stock $s%o nio $n%o")
    // GNU chmod keeps a directory's set-gid bit under a 4-digit mode; a
    // directory made under a set-gid parent inherits it
    val (sg, ng) = {
      def one(fs: RawLocalFileSystem): Int = {
        val root = Files.createTempDirectory("localfs")
        // FsPermission has no set-gid bit, so the parent's mode is set directly
        Files.setAttribute(root, "unix:mode", Int.box(0x5ed)) // 02755
        val p = root.resolve("x")
        assert(fs.mkdirs(hpath(p), new FsPermission(0x1ed.toShort)))
        mode(p)
      }
      (one(stock), one(nio))
    }
    assert(sg == 0x5ed && ng == sg, f"stock $sg%o nio $ng%o")
  }

  private val fileRoot = URI.create("file:///")

  test("(c) tune binds file: to LocalFs once; a second tune evicts nothing") {
    val conf = spark.sparkContext.hadoopConfiguration
    val bound = FileSystem.get(fileRoot, conf)
    assert(bound.getClass == classOf[LocalFs])
    SparkEntry.tune(spark)
    assert(FileSystem.get(fileRoot, conf) eq bound)
    // the cache is JVM-wide: a plain configuration and the session's
    // per-query copy see the same instance
    assert(FileSystem.get(fileRoot, new Configuration()) eq bound)
    assert(new Path("file:///tmp").getFileSystem(spark.sessionState.newHadoopConf()) eq bound)
  }

  test("(d) an explicit user fs.file.impl is left alone") {
    val conf = spark.sparkContext.hadoopConfiguration
    val bound = FileSystem.get(fileRoot, conf)
    val user = classOf[LocalFileSystem].getName
    conf.set("fs.file.impl", user)
    try {
      SparkEntry.tune(spark)
      assert(conf.get("fs.file.impl") == user)
      assert(FileSystem.get(fileRoot, conf) eq bound)
    } finally conf.set("fs.file.impl", classOf[LocalFs].getName)
  }

  test("(e) a partitionBy parquet write leaves the stock .crc siblings and modes") {
    import spark.implicits._
    val df = (1 to 40).map(i => (i, s"v$i", i % 5)).toDF("id", "v", "dia")
    val base = Files.createTempDirectory("localfs")
    val (viaBinding, viaStock) = (base.resolve("bound"), base.resolve("stock"))
    df.repartition(3).write.partitionBy("dia").parquet(viaBinding.toString)
    // the twin: Hadoop's own local filesystem, outside the cache
    df.repartition(3).write
      .option("fs.file.impl", classOf[LocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .partitionBy("dia").parquet(viaStock.toString)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    def listing(dir: JPath): Seq[(String, Int)] = {
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(_ != dir).map { p =>
        uuid.replaceAllIn(dir.relativize(p).toString, "<uuid>") -> mode(p)
      }.toSeq.sorted
      finally walk.close()
    }
    val (got, want) = (listing(viaBinding), listing(viaStock))
    assert(got == want)
    val names = got.map(_._1).toSet
    val data = names.filter(n => n.endsWith(".parquet") || n.endsWith("_SUCCESS"))
    assert(data.count(_.endsWith(".parquet")) >= 5)
    data.foreach { n =>
      val i = n.lastIndexOf('/') + 1
      assert(names(n.take(i) + "." + n.drop(i) + ".crc"), s"no .crc for $n")
    }
    // reading back through the binding verifies every checksum
    assert(spark.read.parquet(viaBinding.toString).except(df).isEmpty)
    assert(spark.read.parquet(viaBinding.toString).count() == df.count())
  }
}
