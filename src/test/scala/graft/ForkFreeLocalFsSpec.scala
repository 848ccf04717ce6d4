package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.io.ForkFreeLocalFs

/** [[ForkFreeLocalFs]] against Hadoop's `LocalFs`: every operation runs
  * on both, each in its own sibling temp dir, and must end the same way
  * (modes, `.crc` side files, exceptions, link status). */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private val root = Files.createTempDirectory("forkfree-fs")
  private val hadoop = "hadoop"
  private val nio = "nio"

  private def context(kind: String): FileContext = {
    val conf = new Configuration()
    if (kind == nio) ForkFreeLocalFs.install(conf)
    FileContext.getFileContext(new URI("file:///"), conf)
  }

  /** Runs `op` in a fresh dir per implementation; returns both results. */
  private def both[T](test: String)(op: (FileContext, JPath) => T): (T, T) = {
    def run(kind: String): T = {
      val dir = Files.createDirectories(root.resolve(test).resolve(kind))
      op(context(kind), dir)
    }
    (run(hadoop), run(nio))
  }

  private def hp(p: JPath): Path = new Path(p.toUri)
  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def write(fc: FileContext, p: JPath, text: String): Unit = {
    val out = fc.create(hp(p), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }
  private def read(fc: FileContext, p: JPath): String = {
    val in = fc.open(hp(p))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
  /** Names and modes under `dir`, relative to it. */
  private def listing(dir: JPath): Seq[(String, String)] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_ != dir).map(p => dir.relativize(p).toString -> mode(p))
      .toSeq.sorted
    finally s.close()
  }
  test("install selects the class once and leaves other implementations alone") {
    val conf = new Configuration()
    assert(conf.get(ForkFreeLocalFs.ImplKey) == classOf[LocalFs].getName)
    ForkFreeLocalFs.install(conf)
    ForkFreeLocalFs.install(conf)
    assert(conf.get(ForkFreeLocalFs.ImplKey) == classOf[ForkFreeLocalFs].getName)
    assert(context(nio).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    assert(context(hadoop).getDefaultFileSystem.isInstanceOf[LocalFs])
    val custom = new Configuration()
    custom.set(ForkFreeLocalFs.ImplKey, "some.other.Fs")
    ForkFreeLocalFs.install(custom)
    assert(custom.get(ForkFreeLocalFs.ImplKey) == "some.other.Fs")
  }

  test("create: same file mode, same .crc side file, same bytes back") {
    val (a, b) = both("create") { (fc, dir) =>
      write(fc, dir.resolve("f"), "state")
      (listing(dir), read(fc, dir.resolve("f")))
    }
    assert(a == b)
    assert(a._1.map(_._1) == Seq(".f.crc", "f"))
  }

  test("mkdir: same directory modes, default and explicit") {
    val (a, b) = both("mkdir") { (fc, dir) =>
      fc.mkdir(hp(dir.resolve("d/e")), FsPermission.getDirDefault, true)
      fc.mkdir(hp(dir.resolve("x")), new FsPermission("750"), false)
      listing(dir)
    }
    assert(a == b)
    assert(a.toMap.apply("x") == "rwxr-x---")
  }

  test("rename without overwrite onto an existing file: the same exception") {
    val (a, b) = both("rename-none") { (fc, dir) =>
      write(fc, dir.resolve("src"), "new")
      write(fc, dir.resolve("dst"), "old")
      val e = intercept[java.io.IOException](
        fc.rename(hp(dir.resolve("src")), hp(dir.resolve("dst")), Options.Rename.NONE))
      (e.getClass, e.getMessage.replace(dir.toString, "<dir>"), listing(dir),
        read(fc, dir.resolve("dst")))
    }
    assert(a == b)
    assert(a._1 == classOf[org.apache.hadoop.fs.FileAlreadyExistsException])
  }

  test("rename with OVERWRITE: the same files, checksums and bytes") {
    val (a, b) = both("rename-overwrite") { (fc, dir) =>
      write(fc, dir.resolve("src"), "new")
      write(fc, dir.resolve("dst"), "old")
      fc.rename(hp(dir.resolve("src")), hp(dir.resolve("dst")), Options.Rename.OVERWRITE)
      (listing(dir), read(fc, dir.resolve("dst")))
    }
    assert(a == b)
    assert(a == (Seq(".dst.crc" -> "rw-r--r--", "dst" -> "rw-r--r--"), "new"))
  }

  /** The fields of a link status that FileStatus.equals (path only)
    * does not compare. */
  private def fields(st: FileStatus) =
    (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else null, st.getLen, st.getPermission,
      st.getOwner, st.getGroup, st.getModificationTime)

  test("getFileLinkStatus: file, directory, missing path, symlink bare and file:-qualified") {
    val dir = Files.createDirectories(root.resolve("links"))
    val file = Files.writeString(dir.resolve("file"), "x")
    val sub = Files.createDirectories(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), Paths.get("file"))
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), Paths.get("gone"))
    val conf = new Configuration()
    def fs(raw: RawLocalFileSystem) = { raw.initialize(new URI("file:///"), conf); raw }
    val (h, n) = (fs(new RawLocalFileSystem), fs(new ForkFreeLocalFs.NioRawLocalFileSystem))
    /** The status's fields, or the exception's class and message. */
    def outcome(fs: RawLocalFileSystem, p: Path): Either[(Class[_], String), Product] =
      try Right(fields(fs.getFileLinkStatus(p)))
      catch { case e: java.io.IOException => Left((e.getClass, e.getMessage)) }
    val missing = dir.resolve("missing")
    Seq(file, sub, link, dangling, missing).foreach { p =>
      Seq(new Path(p.toString), new Path(p.toUri)).foreach { q =>
        assert(outcome(h, q) == outcome(n, q), q)
      }
    }
    val bare = n.getFileLinkStatus(new Path(link.toString))
    assert(bare.isSymlink && bare.getSymlink == new Path(file.toUri))
    assert(n.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    // readlink is asked about "file:/…", which names nothing: never a link
    assert(!n.getFileLinkStatus(new Path(link.toUri)).isSymlink)
    assert(outcome(n, new Path(dangling.toUri)).left.exists(_._1 == classOf[java.io.FileNotFoundException]))
    assert(outcome(n, new Path(missing.toString)).left.exists(_._1 == classOf[java.io.FileNotFoundException]))
  }

  test("setPermission: plain modes in-process, sticky bit through the fallback") {
    val (a, b) = both("chmod") { (fc, dir) =>
      write(fc, dir.resolve("f"), "x")
      fc.setPermission(hp(dir.resolve("f")), new FsPermission("640"))
      fc.mkdir(hp(dir.resolve("t")), FsPermission.getDirDefault, false)
      fc.setPermission(hp(dir.resolve("t")), new FsPermission("1777"))
      (listing(dir), fc.getFileStatus(hp(dir.resolve("t"))).getPermission.getStickyBit)
    }
    assert(a == b)
    assert(a._1.toMap.apply("f") == "rw-r-----" && a._2)
  }
}
