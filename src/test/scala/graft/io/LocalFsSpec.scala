package graft.io

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local filesystem behaves as Hadoop's stock one on the same
  * tree: the same mode bits after create, mkdirs and setPermission, and the
  * same link status for every kind of path; and the engine's
  * `core-site.xml` selects it in a fresh `Configuration`. */
class LocalFsSpec extends AnyFunSuite {

  private val umask = "027"
  private def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(URI.create("file:///"), conf()); fs }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val forkFree = init(new ForkFreeRawLocalFileSystem)

  /** Permission bits including the sticky bit (07777 of st_mode). */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Integer] & 0x0fff

  private def tree(): JPath = Files.createTempDirectory("localfs")

  test("create, mkdirs and setPermission leave the same mode bits as the stock class") {
    val root = tree()
    def run(fs: FileSystem, side: String): Seq[(String, Int)] = {
      val base = new Path(root.resolve(side).toUri)
      val dirPerm = FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(fs.getConf))
      assert(fs.mkdirs(new Path(base, "d/e"), dirPerm))
      // FileSystem.create(Path) applies the conf's umask and sets the mode
      fs.create(new Path(base, "d/f")).close()
      fs.create(new Path(base, "d/e/g"), false).close()
      fs.create(new Path(base, "h")).close()
      fs.mkdirs(new Path(base, "sticky"), dirPerm)
      fs.setPermission(new Path(base, "h"), new FsPermission(Integer.parseInt("640", 8).toShort))
      fs.setPermission(new Path(base, "d/e/g"), new FsPermission(Integer.parseInt("701", 8).toShort))
      fs.setPermission(new Path(base, "d/e"), new FsPermission(Integer.parseInt("750", 8).toShort))
      // a sticky bit: java.nio cannot set it, so the parent's path runs
      fs.setPermission(new Path(base, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      Seq("d", "d/e", "d/f", "d/e/g", "h", "sticky").map(r => r -> mode(root.resolve(side).resolve(r)))
    }
    val want = run(stock, "stock")
    val got = run(forkFree, "forkfree")
    assert(got == want)
    // the umask was applied, and the sticky case really has the bit
    assert(want.toMap.apply("d/f") == Integer.parseInt("640", 8))
    assert(want.toMap.apply("d") == Integer.parseInt("750", 8))
    assert(want.toMap.apply("sticky") == Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus agrees with the stock class on every kind of path") {
    val root = tree()
    Files.writeString(root.resolve("file"), "abc")
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere"))
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.getModificationTime)
    def status(f: Path => FileStatus, p: Path): Either[Class[_], Any] =
      try Right(view(f(p))) catch { case e: java.io.IOException => Left(e.getClass) }
    val afsConf = conf()
    afsConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stockAfs = AbstractFileSystem.createFileSystem(URI.create("file:///"), afsConf)
    val forkFreeAfs = new ForkFreeLocalFs(URI.create("file:///"), conf())
    // both path forms: the stock class reads a link target through
    // `new File(path.toString)`, so it sees links only in the bare form
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         qualified <- Seq(false, true)) {
      val at = root.resolve(name)
      val p = if (qualified) new Path(at.toUri) else new Path(at.toString)
      val want = status(stock.getFileLinkStatus, p)
      assert(status(forkFree.getFileLinkStatus, p) == want, s"$name $p")
      assert(status(forkFreeAfs.getFileLinkStatus, p) == status(stockAfs.getFileLinkStatus, p),
        s"$name $p")
      name match {
        case "missing" => assert(want == Left(classOf[java.io.FileNotFoundException]))
        case "link" | "dangling" if !qualified =>
          assert(want.exists(_.asInstanceOf[Product].productElement(3) == true), name)
        case "dangling" => assert(want == Left(classOf[java.io.FileNotFoundException]))
        case _ => assert(want.isRight, name)
      }
    }
  }

  test("a fresh Configuration resolves file: to the engine's classes") {
    val c = new Configuration()
    assert(FileSystem.get(URI.create("file:///"), c).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(c).getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    val fc = FileContext.getLocalFSFileContext(c)
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    // and the FileContext round trip that the streaming logs make works
    val dir = tree()
    val tmp = new Path(dir.resolve(".0.tmp").toUri)
    val out = fc.create(tmp, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write("v1".getBytes); out.close()
    fc.rename(tmp, new Path(dir.resolve("0").toUri), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    assert(Files.readString(dir.resolve("0")) == "v1")
    assert(Files.exists(dir.resolve(".0.crc")) && !Files.exists(dir.resolve(".0.tmp")))
    assert(Paths.get(dir.toString).toFile.list().toSet == Set("0", ".0.crc"))
  }
}
