package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.LocalFs
import graft.streaming.StreamingPipeline

/** The engine's local filesystem against Hadoop's stock one, side by
  * side in one temp dir: the same files, `.crc` siblings, permission
  * bits and link statuses, and the session binding's rules. */
class LocalFsSpec extends SparkSpec {
  import LocalFsSpec.tree

  private val stockFileSystem = classOf[org.apache.hadoop.fs.LocalFileSystem].getName

  private def conf(umask: String, engine: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c.set("fs.file.impl", if (engine) classOf[LocalFs.FileSys].getName else stockFileSystem)
    c.set(LocalFs.AbstractFsKey,
      if (engine) classOf[LocalFs.Fs].getName else LocalFs.StockAbstractFs)
    c
  }

  private val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)

  private def write(out: java.io.OutputStream): Unit =
    try out.write("graft".getBytes("UTF-8")) finally out.close()

  /** The calls a checkpoint or a parquet write makes: nested
    * directories, a temp file renamed over its final name, a plain
    * created file, and a directory set to mode 01777 (a mode above
    * the rwx bits). */
  private val apis: Seq[(String, (Configuration, JPath) => Unit)] = Seq(
    "FileContext" -> { (c, root) =>
      val fc = FileContext.getFileContext(c)
      val base = new Path(root.toString)
      fc.mkdir(new Path(base, "state/0/1"), FsPermission.getDirDefault, true)
      val tmp = new Path(base, "state/0/1/.1.delta.tmp")
      write(fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent()))
      fc.rename(tmp, new Path(base, "state/0/1/1.delta"), Options.Rename.OVERWRITE)
      write(fc.create(new Path(base, "offsets/0"), java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent()))
      fc.mkdir(new Path(base, "sticky"), FsPermission.getDirDefault, true)
      fc.setPermission(new Path(base, "sticky"), sticky)
    },
    "FileSystem" -> { (c, root) =>
      val fs = FileSystem.newInstance(URI.create("file:///"), c)
      try {
        val base = new Path(root.toString)
        fs.mkdirs(new Path(base, "part/a=1"))
        val tmp = new Path(base, "part/a=1/_tmp.parquet")
        write(fs.create(tmp))
        fs.rename(tmp, new Path(base, "part/a=1/p0.parquet"))
        write(fs.create(new Path(base, "_SUCCESS")))
        fs.mkdirs(new Path(base, "sticky"), FsPermission.getDirDefault)
        fs.setPermission(new Path(base, "sticky"), sticky)
      } finally fs.close()
    })

  for ((api, make) <- apis; umask <- Seq("022", "077"))
    test(s"$api under umask $umask: same files, .crc siblings and mode bits as Hadoop's") {
      val dir = Files.createTempDirectory("graft_localfs")
      val (stock, engine) = (dir.resolve("stock"), dir.resolve("engine"))
      Files.createDirectories(stock)
      Files.createDirectories(engine)
      make(conf(umask, engine = false), stock)
      make(conf(umask, engine = true), engine)
      val t = tree(engine)
      assert(t == tree(stock))
      assert(t.exists(_._1.endsWith(".crc")), s"no checksum sibling written: $t")
      assert(t.collect { case ("sticky", m, _) => m } == Seq(Integer.parseInt("1777", 8)))
      assert(t.forall { case (_, m, file) => !file || (m & Integer.parseInt(umask, 8)) == 0 },
        s"umask $umask not applied: $t")
    }

  test("getFileLinkStatus agrees with Hadoop's for files, dirs, links, dangling links and missing paths") {
    val dir = Files.createTempDirectory("graft_localfs_link")
    Files.write(dir.resolve("file"), "x".getBytes("UTF-8"))
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def show(st: => FileStatus): String =
      try {
        val s = st
        s"${s.getPath} link=${s.isSymlink} ${if (s.isSymlink) s.getSymlink else ""} " +
          s"file=${s.isFile} dir=${s.isDirectory} len=${s.getLen} " +
          s"mtime=${s.getModificationTime} perm=${s.getPermission}"
      } catch { case e: FileNotFoundException => e.getClass.getName }
    val stockRaw = new RawLocalFileSystem
    stockRaw.initialize(URI.create("file:///"), new Configuration())
    val engineRaw = new LocalFs.Raw
    engineRaw.initialize(URI.create("file:///"), new Configuration())
    val stockFc = FileContext.getFileContext(conf("022", engine = false))
    val engineFc = FileContext.getFileContext(conf("022", engine = true))
    val table = Seq("file", "dir", "link", "dangling", "missing")
    for (name <- table; path <- Seq(dir.resolve(name).toString, s"file:${dir.resolve(name)}")) {
      val p = new Path(path)
      val raw = show(engineRaw.getFileLinkStatus(p))
      assert(raw == show(stockRaw.getFileLinkStatus(p)), s"FileSystem, $path")
      assert(show(engineFc.getFileLinkStatus(p)) == show(stockFc.getFileLinkStatus(p)),
        s"FileContext, $path")
      if (name == "missing") assert(raw == classOf[FileNotFoundException].getName)
    }
    // the unqualified link path is the one Hadoop resolves as a link
    val link = engineFc.getFileLinkStatus(new Path(dir.resolve("link").toString))
    assert(link.isSymlink && link.getSymlink.toUri.getPath == dir.resolve("file").toString)
    assert(engineRaw.getFileLinkStatus(new Path(dir.resolve("dangling").toString)).isSymlink)
  }

  /** Runs `body` with the context's `file:` binding set to `value`,
    * restoring the suite's binding after. */
  private def withBinding(value: String)(body: => Unit): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val prior = hc.get(LocalFs.AbstractFsKey)
    hc.set(LocalFs.AbstractFsKey, value)
    try body finally hc.set(LocalFs.AbstractFsKey, prior)
  }

  test("bind is idempotent and leaves an explicit non-default binding alone") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get(LocalFs.AbstractFsKey) == classOf[LocalFs.Fs].getName,
      "the test session is bound at build")
    withBinding(LocalFs.StockAbstractFs) {
      LocalFs.bind(spark)
      LocalFs.bind(spark)
      assert(hc.get(LocalFs.AbstractFsKey) == classOf[LocalFs.Fs].getName)
    }
    val own = "org.apache.hadoop.fs.local.RawLocalFs"
    withBinding(own) {
      LocalFs.bind(spark)
      assert(hc.get(LocalFs.AbstractFsKey) == own)
    }
  }

  private val dagBuilders: Seq[(String, (DataFrame, Seq[(String, DataFrame)]) => DataFrame)] = Seq(
    "referenceDag" -> ((d, a) => StreamingPipeline.referenceDag(d, a)),
    "referenceDagPivot" -> ((d, a) => StreamingPipeline.referenceDagPivot(d, a)))

  for ((name, build) <- dagBuilders)
    test(s"after $name, FileContext resolves file: to the engine filesystem") {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      withBinding(LocalFs.StockAbstractFs) {
        val before = FileContext.getFileContext(spark.sessionState.newHadoopConf())
        assert(before.getDefaultFileSystem.getClass.getName == LocalFs.StockAbstractFs)
        build(MemoryStream[(Long, java.sql.Timestamp)].toDF().toDF("deep_id", "ts"),
          Seq("vix" -> MemoryStream[(java.sql.Timestamp, Double)].toDF().toDF("ts", "vix_value")))
        val after = FileContext.getFileContext(spark.sessionState.newHadoopConf())
        assert(after.getDefaultFileSystem.isInstanceOf[LocalFs.Fs])
      }
    }

  test("a batch referenceDagPivot leaves the context's binding alone") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-02 10:00:00")
    withBinding(LocalFs.StockAbstractFs) {
      StreamingPipeline.referenceDagPivot(Seq((1L, ts)).toDF("deep_id", "ts"),
        Seq("vix" -> Seq((ts, 1.0)).toDF("ts", "vix_value")))
      assert(spark.sparkContext.hadoopConfiguration.get(LocalFs.AbstractFsKey) ==
        LocalFs.StockAbstractFs)
    }
  }
}

object LocalFsSpec {
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every path under `root`, relative, with its mode bits and
    * whether it is a regular file. */
  def tree(root: JPath): Seq[(String, Int, Boolean)] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root)
      .map(p => (root.relativize(p).toString, mode(p), Files.isRegularFile(p))).toSeq.sortBy(_._1)
    finally s.close()
  }
}
