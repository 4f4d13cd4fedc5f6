package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{FileTime, PosixFilePermissions, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local FileSystem with its permission, status
  * and link calls made in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` starts a shell
  * process for each of them: `chmod` on every file create and mkdir,
  * `readlink` on every `FileContext.rename`, and `ls -ld` the first
  * time a status's permission, owner or group is read (every
  * `LocatedFileStatus`). A fork costs milliseconds, the `java.nio`
  * call microseconds, and the pipeline writes and lists many small
  * files. Semantics are Hadoop's: the same umask-applied permissions,
  * `.crc` siblings, statuses and link targets. Bound to the `file:`
  * scheme by [[GraftSession.LocalFsConf]].
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Whether `chmod` and mode reads can go through `java.nio` (its
    * `unix` attribute view, a superset of `posix`); else every call
    * takes Hadoop's own path.
    */
  private val unix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** 0777, the bits a POSIX permission set carries. */
  private val PermissionBits = 0x1ff
  /** 01777: the permission bits and the sticky bit. */
  private val ModeBits = 0x3ff

  private val StatusAttrs =
    "unix:mode,size,lastModifiedTime,lastAccessTime,isDirectory,isSymbolicLink,uid,gid"

  /** The raw (unchecksummed) local FileSystem. */
  class Raw extends RawLocalFileSystem {

    private var blockSize = 0L

    /** Owner and group names by uid and gid: each id's name lookup
      * (`getpwuid`/`getgrgid`) runs once per FileSystem, not per status.
      */
    private val names = Seq("owner", "group").map(
      _ -> new java.util.concurrent.ConcurrentHashMap[Integer, String]()).toMap

    override def initialize(uri: URI, conf: Configuration): Unit = {
      super.initialize(uri, conf)
      blockSize = getDefaultBlockSize(new Path(uri))
    }

    /** `chmod` in-process; Hadoop's path for the bits a POSIX
      * permission set cannot carry (sticky, and any above 0777).
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!unix || (permission.toShort & ~PermissionBits) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))

    override def getFileStatus(f: Path): FileStatus =
      if (unix) status(f, follow = true) else super.getFileStatus(f)

    /** A status for `f` itself: a symlink reports its own attributes,
      * `isSymlink` and its target, qualified against its directory.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (!unix) super.getFileLinkStatus(f)
      else {
        val st = status(f, follow = false)
        if (st.isSymlink)
          st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
        st
      }

    /** The unqualified target of the symlink `f`. */
    override def getLinkTarget(f: Path): Path =
      if (!unix) super.getLinkTarget(f)
      else new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString)

    /** Hadoop's directory listing already statuses each child through
      * [[getFileStatus]]; a file's own listing does not, so it is built
      * here.
      */
    override def listStatus(f: Path): Array[FileStatus] =
      if (!unix || pathToFile(f).isDirectory) super.listStatus(f)
      else Array(getFileStatus(f))

    /** One `stat` for everything a status carries, permission, owner
      * and group included (Hadoop reads those lazily through `ls -ld`);
      * the owner and group come as ids, named through [[names]]. The
      * mode keeps the sticky bit, as `ls -ld` parsing does.
      */
    private def status(f: Path, follow: Boolean): FileStatus = {
      val file = pathToFile(f)
      val opts = if (follow) Nil else Seq(LinkOption.NOFOLLOW_LINKS)
      def read(attrs: String) =
        try Files.readAttributes(file.toPath, attrs, opts: _*)
        catch { case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $f does not exist") }
      val a = read(StatusAttrs)
      def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      def name(k: String, id: String) = names(k).computeIfAbsent(
        a.get(id).asInstanceOf[Integer],
        _ => read(s"unix:$k").get(k).asInstanceOf[UserPrincipal].getName)
      val link =
        if (a.get("isSymbolicLink") == true)
          new Path(Files.readSymbolicLink(file.toPath).toString)
        else null
      new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory") == true,
        1, blockSize, millis("lastModifiedTime"), millis("lastAccessTime"),
        new FsPermission((a.get("mode").asInstanceOf[Int] & ModeBits).toShort),
        name("owner", "uid"), name("group", "gid"), link,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }
  }

  /** The raw side for `FileContext`: Hadoop's `RawLocalFs` (whose
    * constructors are package-private) over [[Raw]].
    */
  class RawAfs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1 // no default port for file:///
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    /** Name rules differ by local file system; the OS decides. */
    override def isValidName(src: String): Boolean = true
  }

  /** The checksummed `FileContext` side, Hadoop's `LocalFs` over
    * [[RawAfs]]. Like Hadoop's, it serves `file:///` whatever `uri`
    * names; `FileContext` instantiates it through this constructor.
    */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(conf))
}
