package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The engine's local filesystem (LocalFs) is what a graft session's
  * `file://` paths resolve to, and it behaves like Hadoop's own: every
  * case runs the same calls on a stock `RawLocalFileSystem` (or `LocalFs`)
  * and on the graft one, each in its own temp root, and compares. */
class LocalFsSpec extends AnyFunSuite {
  private val Umask = "027"
  private def conf(): Configuration = {
    val c = new Configuration()
    c.set(FsPermission.UMASK_LABEL, Umask)
    c
  }
  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(new URI("file:///"), conf()); fs
  }

  private def inTempRoot[A](f: java.nio.file.Path => A): A = {
    val root = Files.createTempDirectory("graft-localfs")
    try f(root)
    finally Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  /** Run `f` on stock and graft, each over a fresh temp root. */
  private def both[A](f: (RawLocalFileSystem, java.nio.file.Path) => A): (A, A) = {
    def on(fs: RawLocalFileSystem) = try inTempRoot(f(fs, _)) finally fs.close()
    (on(raw(new RawLocalFileSystem)), on(raw(new ForkFreeRawLocalFileSystem)))
  }
  private def posix(f: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
  private def p(root: java.nio.file.Path, name: String) = new Path(root.resolve(name).toString)
  private def shape(s: FileStatus) =
    (s.isFile, s.isDirectory, s.isSymlink, if (s.isDirectory) 0L else s.getLen,
      s.getPermission.toString, s.getPath.getName)

  test("a graft session's file:// FileSystem and FileContext are the graft classes") {
    val hconf = TestSpark.spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new URI("file:///"), hconf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[ForkFreeLocalFileSystem].getRaw
      .isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getFileContext(new URI("file:///"), hconf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass)
  }

  test("create applies the umask like stock") {
    val (stock, graft) = both { (fs, root) =>
      val f = p(root, "a.bin")
      val out = fs.create(f, new FsPermission("666"), false, 4096, 1.toShort, 1L << 20, null)
      out.write(Array[Byte](1, 2, 3)); out.close()
      (shape(fs.getFileStatus(f)),
        posix(root.resolve("a.bin")))
    }
    assert(graft == stock)
    assert(graft._2 == "rw-r-----")
  }

  test("mkdirs applies the umask to every created level like stock") {
    val (stock, graft) = both { (fs, root) =>
      assert(fs.mkdirs(p(root, "x/y/z"), new FsPermission("777")))
      Seq("x", "x/y", "x/y/z").map(d => posix(root.resolve(d)))
    }
    assert(graft == stock)
    assert(graft.toSet == Set("rwxr-x---"))
  }

  test("setPermission sets the same bits, and a sticky bit falls back to Hadoop") {
    val (stock, graft) = both { (fs, root) =>
      val f = p(root, "f"); val d = p(root, "d")
      fs.create(f).close(); fs.mkdirs(d)
      fs.setPermission(f, new FsPermission("604"))
      fs.setPermission(d, new FsPermission("1751"))
      (posix(root.resolve("f")), fs.getFileStatus(d).getPermission.toString)
    }
    assert(graft == stock)
    assert(graft == ("rw----r--", "rwxr-x--t"))
  }

  test("getFileLinkStatus on a file, a directory, a symlink and a missing path") {
    val (stock, graft) = both { (fs, root) =>
      val f = p(root, "f"); fs.create(f).close(); fs.mkdirs(p(root, "d"))
      Files.createSymbolicLink(root.resolve("ln"), root.resolve("f"))
      val link = fs.getFileLinkStatus(p(root, "ln"))
      val missing =
        try { fs.getFileLinkStatus(p(root, "nope")); "found" }
        catch { case _: FileNotFoundException => "FileNotFoundException" }
      (shape(fs.getFileLinkStatus(f)), shape(fs.getFileLinkStatus(p(root, "d"))),
        shape(link), Paths.get(link.getSymlink.toUri).equals(root.resolve("f")), missing)
    }
    assert(graft == stock)
    assert(graft._3._3 && graft._4, "the symlink is reported as one, with its target")
    assert(graft._5 == "FileNotFoundException")
  }

  test("a FileSystem rename onto an existing file replaces it, as Hadoop's LocalFileSystem does") {
    def run(fs: LocalFileSystem) = inTempRoot { root =>
      fs.initialize(new URI("file:///"), conf())
      try {
        Seq("src" -> "new", "dst" -> "old").foreach { case (name, text) =>
          val out = fs.create(p(root, name)); out.write(text.getBytes(UTF_8)); out.close()
        }
        (fs.rename(p(root, "src"), p(root, "dst")),
          new String(Files.readAllBytes(root.resolve("dst")), UTF_8),
          Files.list(root).toArray.map(_.toString.split('/').last).sorted.toSeq)
      } finally fs.close()
    }
    val graft = run(new ForkFreeLocalFileSystem)
    assert(graft == run(new LocalFileSystem))
    assert(graft == ((true, "new", Seq(".dst.crc", "dst"))))
  }

  test("a FileContext rename with OVERWRITE replaces the target and its checksum") {
    def run(hconf: Configuration) = inTempRoot { root =>
      val fc = FileContext.getFileContext(new URI("file:///"), hconf)
      def write(name: String, s: String): Unit = {
        val out = fc.create(p(root, name), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        out.write(s.getBytes(UTF_8)); out.close()
      }
      write("src", "new"); write("dst", "old"); write("other", "x")
      fc.rename(p(root, "src"), p(root, "dst"), Options.Rename.OVERWRITE)
      val refused =
        try { fc.rename(p(root, "other"), p(root, "dst")); "renamed" }
        catch { case _: FileAlreadyExistsException => "FileAlreadyExistsException" }
      val files = Files.list(root).toArray.map(_.toString.split('/').last).sorted.toSeq
      (fc.getDefaultFileSystem.getClass.getSimpleName,
        new String(Files.readAllBytes(root.resolve("dst")), UTF_8), refused, files,
        posix(root.resolve("dst")))
    }
    val graftConf = conf()
    graftConf.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    val stock = run(conf())
    val graft = run(graftConf)
    assert(stock._1 == "LocalFs" && graft._1 == "ForkFreeLocalFs")
    assert(graft.productIterator.drop(1).toSeq == stock.productIterator.drop(1).toSeq)
    assert(graft._2 == "new" && graft._3 == "FileAlreadyExistsException")
    assert(graft._4 == Seq(".dst.crc", ".other.crc", "dst", "other"))
  }
}
