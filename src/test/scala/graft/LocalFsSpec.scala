package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import graft.sources.{LocalFs, NoForkLocalFileSystem, NoForkLocalFs, NoForkRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The engine's local filesystem: installed on every engine session for
  * both Hadoop APIs, and indistinguishable from Hadoop's own raw local
  * filesystem in the two calls it serves without forking. */
class LocalFsSpec extends SparkSpec {
  private val LocalUri = URI.create("file:///")

  private def tmpDir(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(tempDir(s"graft_$name"))

  /** a stock raw local FS and the engine's, side by side */
  private def pair(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem
    stock.initialize(LocalUri, conf)
    val ours = new NoForkRawLocalFileSystem
    ours.initialize(LocalUri, conf)
    (stock, ours)
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("an engine session serves file: with the no-fork FS on both Hadoop APIs") {
    spark.range(1).count()
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(LocalUri, conf).isInstanceOf[NoForkLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .isInstanceOf[NoForkLocalFs])
  }

  test("setPermission sets the same mode bits as stock chmod; create and mkdirs match under the umask") {
    val (stock, ours) = pair()
    val d = tmpDir("localfs_perm")
    for (m <- Seq("644", "600", "755", "700", "640", "000")) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      val a = d.resolve(s"stock_$m"); Files.createFile(a)
      val b = d.resolve(s"ours_$m"); Files.createFile(b)
      stock.setPermission(new Path(a.toString), perm)
      ours.setPermission(new Path(b.toString), perm)
      assert(mode(b) == mode(a), m)
      assert(mode(b) == perm.toString, m)
    }
    // FileContext passes its create/mkdir modes as FsCreateModes
    val fc = d.resolve("ours_fc"); Files.createFile(fc)
    ours.setPermission(new Path(fc.toString), org.apache.hadoop.fs.permission.FsCreateModes
      .applyUMask(new FsPermission(Integer.parseInt("666", 8).toShort),
        new FsPermission(Integer.parseInt("022", 8).toShort)))
    assert(mode(fc) == "rw-r--r--")
    // create applies the session umask to 0666 and then setPermission
    stock.create(new Path(d.resolve("stock_created").toString)).close()
    ours.create(new Path(d.resolve("ours_created").toString)).close()
    assert(mode(d.resolve("ours_created")) == mode(d.resolve("stock_created")))
    val umasked = FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(ours.getConf))
    assert(mode(d.resolve("ours_created")) == umasked.toString)
    val dirPerm = new FsPermission(Integer.parseInt("750", 8).toShort)
    assert(stock.mkdirs(new Path(d.resolve("stock_dir/sub").toString), dirPerm))
    assert(ours.mkdirs(new Path(d.resolve("ours_dir/sub").toString), dirPerm))
    assert(mode(d.resolve("ours_dir/sub")) == mode(d.resolve("stock_dir/sub")))
    assert(mode(d.resolve("ours_dir/sub")) == "rwxr-x---")
    // a missing path fails on both
    intercept[IOException](stock.setPermission(new Path(d.resolve("nope").toString), dirPerm))
    intercept[IOException](ours.setPermission(new Path(d.resolve("nope").toString), dirPerm))
  }

  test("a sticky-bit mode takes the stock fallback and keeps the sticky bit") {
    val (stock, ours) = pair()
    val d = tmpDir("localfs_sticky").resolve("shared")
    Files.createDirectory(d)
    ours.setPermission(new Path(d.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(d) == "rwxrwxrwx")
    // the stock status reads the mode back with ls -ld, sticky bit included
    assert(stock.getFileStatus(new Path(d.toString)).getPermission.getStickyBit)
  }

  private def same(a: FileStatus, b: FileStatus): Unit = {
    assert(b.getPath == a.getPath)
    assert(b.isFile == a.isFile && b.isDirectory == a.isDirectory)
    assert(b.isSymlink == a.isSymlink)
    assert(b.getLen == a.getLen && b.getModificationTime == a.getModificationTime)
    if (a.isSymlink) assert(b.getSymlink == a.getSymlink)
  }

  test("getFileLinkStatus matches stock for a file, a directory, a missing path and a symlink") {
    val (stock, ours) = pair()
    val d = tmpDir("localfs_link")
    val file = d.resolve("f.txt"); Files.write(file, "abc".getBytes(UTF_8))
    val dir = d.resolve("sub"); Files.createDirectory(dir)
    val link = d.resolve("link"); Files.createSymbolicLink(link, file)
    for (p <- Seq(file, dir, link); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      same(stock.getFileLinkStatus(path), ours.getFileLinkStatus(path))
    }
    val linked = ours.getFileLinkStatus(new Path(link.toString))
    assert(linked.isSymlink)
    assert(linked.getSymlink == new Path(file.toUri))
    val missing = new Path(d.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("checkpoint createAtomic round-trips through FileContext, with and without overwrite") {
    spark.range(1).count()
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(tmpDir("localfs_ckpt").toUri)
    val mgr = CheckpointFileManager.create(dir, conf)
    val target = new Path(dir, "0")
    def write(s: String, overwrite: Boolean): Unit = {
      val out = mgr.createAtomic(target, overwriteIfPossible = overwrite)
      out.write(s.getBytes(UTF_8))
      out.close()
    }
    def read(): String = {
      val in = mgr.open(target)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    write("first", overwrite = false)
    assert(read() == "first")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](write("second", overwrite = false))
    assert(read() == "first")
    write("third", overwrite = true)
    assert(read() == "third")
    // checksums and the refused rename's temp file are dot-files
    assert(new java.io.File(dir.toUri).list().filterNot(_.startsWith(".")).toSeq == Seq("0"))
  }

  test("install is idempotent and never replaces a user-set filesystem") {
    val conf = new Configuration()
    LocalFs.install(conf)
    val fsImpl = conf.get("fs.file.impl")
    val afsImpl = conf.get("fs.AbstractFileSystem.file.impl")
    assert(fsImpl == classOf[NoForkLocalFileSystem].getName)
    assert(afsImpl == classOf[NoForkLocalFs].getName)
    val cached = FileSystem.get(LocalUri, conf)
    LocalFs.install(conf)
    assert(conf.get("fs.file.impl") == fsImpl)
    assert(conf.get("fs.AbstractFileSystem.file.impl") == afsImpl)
    assert(FileSystem.get(LocalUri, conf) eq cached)

    val user = new Configuration()
    user.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    user.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.RawLocalFs")
    LocalFs.install(user)
    assert(user.get("fs.file.impl") == "org.apache.hadoop.fs.LocalFileSystem")
    assert(user.get("fs.AbstractFileSystem.file.impl") == "org.apache.hadoop.fs.local.RawLocalFs")
  }

  test("install replaces a stock cached instance, which keeps working once closed") {
    spark.range(1).count()
    val stockConf = new Configuration()
    stockConf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    FileSystem.get(LocalUri, stockConf).close()
    val stock = FileSystem.get(LocalUri, stockConf)
    try {
      assert(!stock.isInstanceOf[NoForkLocalFileSystem])
      LocalFs.install(spark.sparkContext.hadoopConfiguration)
      assert(FileSystem.get(LocalUri, spark.sessionState.newHadoopConf())
        .isInstanceOf[NoForkLocalFileSystem])
      val f = new Path(tmpDir("localfs_closed").resolve("x.txt").toUri)
      val out = stock.create(f)
      out.write("still".getBytes(UTF_8))
      out.close()
      assert(new String(Files.readAllBytes(Paths.get(f.toUri)), UTF_8) == "still")
    } finally LocalFs.install(spark.sparkContext.hadoopConfiguration)
  }
}
