package graft

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption}

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, FsConstants,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** `graft.io`'s `file:` file systems against stock Hadoop, created
  * explicitly here: same resolution, same mode bits, same rename and
  * `.crc` layout, same link status and exceptions. Each check runs the
  * same operations in two sibling directories, one per side, and
  * compares what they leave. */
class LocalFsEquivalenceSpec extends AnyFunSuite {

  private val local = URI.create("file:///")

  private def stockConf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c.set("fs.permissions.umask-mode", umask)
    c
  }
  private def engineConf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.setBoolean("fs.file.impl.disable.cache", true)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** (stock, engine) FileSystems of one kind. */
  private def fileSystems(raw: Boolean, umask: String = "022"): (FileSystem, FileSystem) = {
    val stock = if (raw) new RawLocalFileSystem else new LocalFileSystem
    stock.initialize(local, stockConf(umask))
    val engine = FileSystem.get(local, engineConf(umask))
    (stock, if (raw) engine.asInstanceOf[LocalFileSystem].getRaw else engine)
  }
  private def fileContexts(umask: String = "022"): (FileContext, FileContext) = (
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, stockConf(umask)),
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, engineConf(umask)))

  /** Two fresh sibling directories: (stock side, engine side). */
  private def sides(): (File, File) = {
    val base = Files.createTempDirectory("fs-equiv").toFile
    val (a, b) = (new File(base, "stock"), new File(base, "engine"))
    a.mkdir(); b.mkdir()
    (a, b)
  }

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]

  /** Relative path → (mode, content) of every entry under `dir`,
    * hidden `.crc` sidecars included. */
  private def tree(dir: File): Map[String, (Int, String)] = {
    def walk(f: File, rel: String): Seq[(String, (Int, String))] = {
      val here = if (rel.isEmpty) Nil else Seq(rel -> (mode(f),
        if (f.isFile) new String(Files.readAllBytes(f.toPath), UTF_8) else ""))
      here ++ Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
        .flatMap(c => walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
    }
    walk(dir, "").toMap
  }

  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p); out.write(s.getBytes(UTF_8)); out.close()
  }
  private def write(fc: FileContext, p: Path, s: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    out.write(s.getBytes(UTF_8)); out.close()
  }

  test("file: resolves to the engine classes in a plain Configuration, " +
      "FileContext and a Spark session") {
    assert(FileSystem.get(local, new Configuration()).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(new Configuration()).getRaw.getClass ==
      classOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext.getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
    val fc = FileContext.getLocalFSFileContext.getDefaultFileSystem
    assert(fc.getUriDefaultPort == -1 && fc.isValidName("a:b") &&
      fc.getServerDefaults(new Path("/")).getBlockSize ==
        FileContext.getFileContext(local, stockConf()).getDefaultFileSystem
          .getServerDefaults(new Path("/")).getBlockSize)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false")
      .appName("fs-equiv-spec").getOrCreate()
    try {
      val conf = spark.sessionState.newHadoopConf()
      assert(new Path("file:///").getFileSystem(conf).getClass == classOf[NioLocalFileSystem])
      assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass ==
        classOf[NioLocalFs])
    } finally spark.stop()
  }

  test("files and directories created through both sides have equal " +
      "mode bits, for several umasks, explicit modes and special bits") {
    for (umask <- Seq("022", "077", "002"); raw <- Seq(true, false)) {
      val (a, b) = sides()
      val (stock, engine) = fileSystems(raw, umask)
      Seq(a -> stock, b -> engine).foreach { case (dir, fs) =>
        val d = new Path(dir.getPath)
        write(fs, new Path(d, "f"), "x")
        fs.mkdirs(new Path(d, "d1/d2"))
        fs.mkdirs(new Path(d, "m"), new FsPermission("750"))
        fs.create(new Path(d, "p"), new FsPermission("640"), false, 4096,
          1.toShort, 1L << 20, null).close()
        write(fs, new Path(d, "q"), "y")
        fs.setPermission(new Path(d, "q"), new FsPermission("604"))
        fs.mkdirs(new Path(d, "sticky"))
        fs.setPermission(new Path(d, "sticky"), new FsPermission("1777"))
      }
      assert(tree(a) == tree(b), s"umask $umask raw=$raw")
      assert((mode(new File(b, "sticky")) & 0xfff) == 0x3ff) // 01777
    }
    val (a, b) = sides()
    val (fa, fb) = fileContexts("027")
    Seq(a -> fa, b -> fb).foreach { case (dir, fc) =>
      val d = new Path(dir.toURI)
      write(fc, new Path(d, "c/f"), "z")
      fc.mkdir(new Path(d, "e/g"), FsPermission.getDirDefault, true)
      fc.setPermission(new Path(d, "c/f"), new FsPermission("600"))
    }
    assert(tree(a) == tree(b))
  }

  test("a setgid directory takes the stock chmod: the same bits survive " +
      "on both sides") {
    val (a, b) = sides()
    val (stock, engine) = fileSystems(raw = true)
    Seq(a -> stock, b -> engine).foreach { case (dir, fs) =>
      val d = new File(dir, "g"); d.mkdir()
      assert(new ProcessBuilder("chmod", "2775", d.getPath).start().waitFor() == 0)
      fs.setPermission(new Path(d.getPath), new FsPermission("750"))
    }
    assert(tree(a) == tree(b))
    // GNU chmod keeps a directory's setgid under a 4-digit mode;
    // chmod(2) with 0750 would have cleared it
    assert((mode(new File(b, "g")) & 0xfff) == 0x5e8) // 02750
  }

  /** The result, or the class of the exception it raised. */
  private def outcome[A](a: => A): Either[String, A] =
    try Right(a) catch { case e: Exception => Left(e.getClass.getName) }

  test("FileContext.rename(OVERWRITE) replaces the target and leaves the " +
      ".crc sidecars where stock Hadoop leaves them; failed renames raise " +
      "the same exceptions") {
    val (a, b) = sides()
    val (fa, fb) = fileContexts()
    val failures = Seq(a -> fa, b -> fb).map { case (dir, fc) =>
      val d = new Path(dir.toURI)
      write(fc, new Path(d, "tmp1"), "new")
      write(fc, new Path(d, "target"), "old")
      fc.rename(new Path(d, "tmp1"), new Path(d, "target"), Options.Rename.OVERWRITE)
      write(fc, new Path(d, "tmp2"), "fresh")
      fc.rename(new Path(d, "tmp2"), new Path(d, "fresh"), Options.Rename.OVERWRITE)
      write(fc, new Path(d, "x"), "x")
      Seq(
        outcome(fc.rename(new Path(d, "x"), new Path(d, "target"), Options.Rename.NONE)),
        outcome(fc.rename(new Path(d, "gone"), new Path(d, "y"), Options.Rename.OVERWRITE)),
        outcome(fc.rename(new Path(d, "x"), new Path(d, "no/y"), Options.Rename.OVERWRITE)))
    }
    assert(tree(a) == tree(b))
    assert(tree(b).keySet == Set("target", ".target.crc", "fresh", ".fresh.crc", "x", ".x.crc"))
    assert(tree(b)("target")._2 == "new")
    assert(failures(0) == failures(1) && failures(1).forall(_.isLeft), failures)
  }

  test("getFileLinkStatus on a symlink, a dangling symlink and a missing " +
      "path behaves as stock: the same status or the same exception") {
    val (a, b) = sides()
    Seq(a, b).foreach { dir =>
      val f = new File(dir, "file")
      Files.write(f.toPath, "data".getBytes(UTF_8))
      f.setLastModified(1700000000000L)
      Files.createSymbolicLink(new File(dir, "link").toPath, java.nio.file.Paths.get("file"))
      Files.createSymbolicLink(new File(dir, "dangling").toPath,
        java.nio.file.Paths.get("nowhere"))
      val sub = new File(dir, "sub"); sub.mkdir()
      sub.setLastModified(1700000000000L)
    }
    def describe(s: FileStatus): String =
      Seq(s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else "-", s.isDirectory,
        s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup).mkString(" ")
    val names = Seq("file", "link", "dangling", "missing", "sub")
    def statuses(dir: File, get: Path => FileStatus, qualified: Boolean) = names.map { n =>
      val f = new File(dir, n)
      n -> outcome(describe(get(if (qualified) new Path(f.toURI) else new Path(f.getPath))))
        .map(_.replace(dir.getPath, "<dir>"))
    }
    val (rawA, rawB) = fileSystems(raw = true)
    val (fsA, fsB) = fileSystems(raw = false)
    val (fcA, fcB) = fileContexts()
    for ((kind, getA, getB) <- Seq(
        ("raw", (p: Path) => rawA.getFileLinkStatus(p), (p: Path) => rawB.getFileLinkStatus(p)),
        ("checksummed", (p: Path) => fsA.getFileLinkStatus(p),
          (p: Path) => fsB.getFileLinkStatus(p)),
        ("FileContext", (p: Path) => fcA.getFileLinkStatus(p),
          (p: Path) => fcB.getFileLinkStatus(p)));
        qualified <- Seq(true, false)) {
      val stock = statuses(a, getA, qualified)
      assert(stock == statuses(b, getB, qualified), s"$kind qualified=$qualified")
      assert(stock.toMap.apply("missing") == Left(classOf[java.io.FileNotFoundException].getName))
    }
  }
}
