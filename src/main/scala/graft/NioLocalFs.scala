package graft

import java.io.{DataOutput, File, FileNotFoundException, IOException, UncheckedIOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException, Paths}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, PosixFileAttributeView, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FileSystem, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session: Hadoop's local filesystem
  * with permissions, owners and link targets read and set through
  * `java.nio` instead of a started process.
  *
  * Without the native `libhadoop` (absent from most Spark installs),
  * `RawLocalFileSystem` runs `chmod` for every permission it sets,
  * `ls -ld` for every permission it reads and `readlink` for every link
  * status, which `FileContext.rename` asks for on both of its paths. A
  * stateful stream's checkpoint and state-store commits pay hundreds of
  * such processes per query. GlareDB reads local files through an
  * in-process dispatch (`runtime/filesystem/dispatch.rs`); this is the
  * Hadoop-side equivalent.
  *
  * [[NioLocalFs.confs]] registers it for both Hadoop APIs (checksums kept
  * as Hadoop keeps them), and `Engine.configure` applies them. Known limit:
  * Hadoop caches one `FileSystem` per scheme per JVM, so a JVM that opened
  * `file:` before its first graft session keeps Hadoop's class. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** Like Hadoop's status, it follows links; its permission, owner and
    * group load on first use. */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a =
      try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
    new NioFileStatus(a.size, a.isDirectory, getDefaultBlockSize(f),
      a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory), file)
  }

  /** A directory's children come from [[getFileStatus]] in Hadoop's own
    * loop; a file is its own single entry. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  /** A link reports its target's status with the link's target,
    * qualified against the link's parent, as Hadoop's does. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = pathToFile(f).toPath
    if (!Files.isSymbolicLink(link)) return getFileStatus(f)
    val target = new Path(Files.readSymbolicLink(link).toString)
    val s =
      try {
        val t = getFileStatus(f)
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize, t.getModificationTime,
          t.getAccessTime, t.getPermission, t.getOwner, t.getGroup, target, f)
      } catch {
        case _: FileNotFoundException => // dangling, reported as Hadoop reports one
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    s.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
    s
  }

  override def getLinkTarget(f: Path): Path = {
    val link = pathToFile(f).toPath
    if (Files.isSymbolicLink(link)) new Path(Files.readSymbolicLink(link).toString)
    else getFileStatus(f).getSymlink // throws, as for any non-link
  }

  /** `unix:mode` keeps the sticky bit, which `PosixFilePermission` drops. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Integer.valueOf(permission.toShort & NioLocalFs.Mode))

  override def setOwner(p: Path, username: String, groupname: String): Unit = {
    if (username == null && groupname == null)
      throw new IOException("username == null && groupname == null")
    val path = pathToFile(p).toPath
    val lookup = path.getFileSystem.getUserPrincipalLookupService
    if (username != null) Files.setOwner(path, lookup.lookupPrincipalByName(username))
    if (groupname != null) Files.getFileAttributeView(path, classOf[PosixFileAttributeView])
      .setGroup(lookup.lookupPrincipalByGroupName(groupname))
  }

  override def createSymlink(target: Path, link: Path, createParent: Boolean): Unit = {
    if (!FileSystem.areSymlinksEnabled) throw new UnsupportedOperationException("Symlinks not supported")
    val scheme = target.toUri.getScheme
    if (scheme != null && scheme != "file")
      throw new IOException(s"Unable to create symlink to non-local file system: $target")
    if (createParent) mkdirs(link.getParent)
    Files.createSymbolicLink(pathToFile(link).toPath, Paths.get(target.toUri.getPath))
    ()
  }
}

/** A status whose permission, owner and group are read on first use, in one
  * `unix:mode,owner,group` call (Hadoop's local status loads them lazily too). */
private class NioFileStatus(len: Long, dir: Boolean, blockSize: Long, mtime: Long, atime: Long,
    path: Path, file: File)
    extends FileStatus(len, dir, 1, blockSize, mtime, atime, null, null, null, path) {

  @transient private var loaded = false

  /** A path deleted since its status was taken throws, as Hadoop's `ls -ld`
    * failure does; the getters declare no `IOException`. */
  private def load(): Unit = synchronized {
    if (!loaded) {
      val a =
        try Files.readAttributes(file.toPath, "unix:mode,owner,group")
        catch { case e: IOException => throw new UncheckedIOException(e) }
      setPermission(new FsPermission((a.get("mode").asInstanceOf[Integer] & NioLocalFs.Mode).toShort))
      setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
      setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
  override def write(out: DataOutput): Unit = { load(); super.write(out) }
}

/** Hadoop's checksummed local filesystem over [[NioRawLocalFileSystem]]
  * (`fs.file.impl`). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` binding `FileContext` uses (checkpoint and
  * state-store files): Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksums over the raw binding) for
  * `fs.AbstractFileSystem.file.impl`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

object NioLocalFs {
  /** Permission bits and the sticky bit (octal 01777); `FsPermission` has
    * no setuid or setgid. */
  private[graft] val Mode = 0x3ff

  /** The session confs that install the filesystem; `connect()` in
    * `python/graft` sets the same pairs. */
  val confs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}
