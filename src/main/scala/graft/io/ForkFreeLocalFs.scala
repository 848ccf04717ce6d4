package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` AbstractFileSystem (what `FileContext` uses for
  * local paths) without the subprocesses. Without native libhadoop,
  * Hadoop's `LocalFs` shells out for two calls that Spark's
  * FileContext checkpoint manager makes on every write: `chmod` after
  * each create and mkdir, and `readlink` on both sides of each rename.
  * Every state-store commit, offset-log and commit-log write therefore
  * forks a few processes, at several milliseconds each in a JVM with a
  * large heap.
  *
  * Same layering as `LocalFs` (checksums over a delegate over a raw
  * local FileSystem); only the raw layer's two forking calls change,
  * see [[ForkFreeLocalFs.NioRawLocalFileSystem]]. The FileSystem API
  * (`FileSystem.get`, cached per session) is not touched: parquet
  * writers and output committers keep Hadoop's own classes.
  *
  * FileContext instantiates it through the (URI, Configuration)
  * constructor; as in `LocalFs`, the URI is always `file:///`. */
final class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.RawFs(conf))

object ForkFreeLocalFs {
  val ImplKey = "fs.AbstractFileSystem.file.impl"

  /** Make `conf` resolve `file:` FileContexts to [[ForkFreeLocalFs]].
    * FileContext builds a new AbstractFileSystem on every
    * `getFileContext`, so this takes effect for every later one built
    * from `conf` or a copy of it (Spark copies the SparkContext's
    * Hadoop conf at each streaming query start). Idempotent; an
    * explicitly configured implementation other than Hadoop's default
    * `LocalFs` is left alone. */
  def install(conf: Configuration): Unit =
    if (conf.get(ImplKey) == classOf[LocalFs].getName)
      conf.set(ImplKey, classOf[ForkFreeLocalFs].getName)

  /** `RawLocalFs` over [[NioRawLocalFileSystem]]: the delegate layer,
    * with `RawLocalFs`'s three overrides. */
  private[io] final class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort(): Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    // Local file systems differ in what they accept; the OS decides.
    override def isValidName(src: String): Boolean = true
  }

  /** `RawLocalFileSystem` with its two forking calls done in-process
    * by java.nio. */
  final class NioRawLocalFileSystem extends RawLocalFileSystem {

    /** The nine rwx bits through `Files.setPosixFilePermissions`, which
      * follows links as `chmod` does. java.nio cannot set the sticky
      * bit, so a sticky mode still goes through Hadoop's `chmod`. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort.toInt
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission's declaration order is owner r,w,x, group
        // r,w,x, others r,w,x: bit 8 down to bit 0 of the mode.
        PosixFilePermission.values.foreach { q =>
          if ((mode & (1 << (8 - q.ordinal))) != 0) perms.add(q)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
      }

    /** Hadoop's default (non-`Stat`) link-status path, with
      * `FileUtil.readLink` done by java.nio. Like `readLink`, it asks
      * about `new File(f.toString)`: for a `file:`-qualified path that
      * names nothing, so such a path is never reported as a link. */
    override def getFileLinkStatus(f: Path): FileStatus = {
      val target = readLink(new File(f.toString))
      val fi =
        try {
          val st = getFileStatus(f)
          if (target.isEmpty) st
          else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
            st.getModificationTime, st.getAccessTime, st.getPermission,
            st.getOwner, st.getGroup, new Path(target), f)
        } catch {
          // a dangling link: File.exists is false for it
          case e: FileNotFoundException =>
            if (target.isEmpty) throw e
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
              "", "", new Path(target), f)
        }
      if (fi.isSymlink)
        fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
      fi
    }

    /** `FileUtil.readLink`: the link's target, or "" when `f` is not a
      * symbolic link or cannot be read. */
    private def readLink(f: File): String =
      try Files.readSymbolicLink(f.toPath).toString.trim
      catch { case _: IOException | _: InvalidPathException => "" }
  }
}
