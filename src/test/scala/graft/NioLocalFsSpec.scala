package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioRawLocalFileSystem]] reports what Hadoop's `RawLocalFileSystem`
  * reports, without starting a process. */
class NioLocalFsSpec extends AnyFunSuite {

  private def init(fs: FileSystem): FileSystem = { fs.initialize(URI.create("file:///"), new Configuration); fs }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** What a status says about a path: length, kind, time, permission
    * (sticky bit included), owner, group, symlink target. */
  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.getModificationTime, s.getPermission, s.getOwner,
      s.getGroup, if (s.isSymlink) s.getSymlink else null)

  private def withDir(body: File => Unit): Unit = {
    val d = Files.createTempDirectory("niofs").toFile
    try body(d) finally Fs.rm(d)
  }

  test("nio local fs: statuses equal Hadoop's for a file, dirs, a sticky dir and a symlink") {
    withDir { d =>
      val file = new File(d, "f.txt")
      Files.write(file.toPath, "twelve bytes".getBytes(UTF_8))
      val sub = new File(d, "sub"); sub.mkdir()
      val sticky = new File(d, "sticky"); sticky.mkdir()
      Files.setAttribute(sticky.toPath, "unix:mode", Integer.valueOf(Integer.parseInt("1777", 8)))
      val link = new File(d, "link")
      Files.createSymbolicLink(link.toPath, file.toPath)
      for (f <- Seq(file, sub, sticky, link, d)) {
        val p = new Path(f.getPath)
        assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)), f)
        assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), f)
        assert(nio.listStatus(p).map(fields).toSeq.sortBy(_._1) ==
          stock.listStatus(p).map(fields).toSeq.sortBy(_._1), f)
      }
      assert(nio.getFileStatus(new Path(sticky.getPath)).getPermission.getStickyBit)
      val ls = nio.getFileLinkStatus(new Path(link.getPath))
      assert(ls.isSymlink && ls.getSymlink.toUri.getPath == file.getPath)
      assert(nio.getLinkTarget(new Path(link.getPath)) == stock.getLinkTarget(new Path(link.getPath)))

      val missing = new Path(new File(d, "missing").getPath)
      for (fs <- Seq(stock, nio)) {
        intercept[FileNotFoundException](fs.getFileStatus(missing))
        intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
        intercept[FileNotFoundException](fs.listStatus(missing))
      }
    }
  }

  test("nio local fs: setPermission and mkdirs(path, perm) round-trip the mode") {
    withDir { d =>
      val p = new Path(new File(d, "m").getPath)
      nio.mkdirs(p)
      for (m <- Seq("1777", "750", "644", "1700")) {
        nio.setPermission(p, mode(m))
        assert(stock.getFileStatus(p).getPermission == mode(m), m)
        assert(nio.getFileStatus(p).getPermission == mode(m), m)
      }
      for ((fs, name) <- Seq(stock -> "a", nio -> "b"))
        assert(fs.mkdirs(new Path(new File(d, s"$name/c").getPath), mode("750")))
      val Seq(a, b) = Seq("a/c", "b/c").map(n => stock.getFileStatus(new Path(new File(d, n).getPath)))
      assert(b.getPermission == a.getPermission && a.getPermission == mode("750"))
    }
  }

  test("nio local fs: FileContext renames over an existing file through the AbstractFileSystem binding") {
    withDir { d =>
      val conf = new Configuration()
      NioLocalFs.confs.foreach { case (k, v) => conf.set(k.stripPrefix("spark.hadoop."), v) }
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
      def write(name: String, text: String): Path = {
        val p = new Path(new File(d, name).toURI)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
        p
      }
      val src = write("src", "new")
      val dst = write("dst", "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src))
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    }
  }

  test("nio local fs: a session from Engine.session resolves file:/// to the graft class") {
    val spark = Engine.session(cpus = 2, appName = "nio-local-fs")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    try assert(fs.getClass == classOf[NioLocalFileSystem]) finally fs.close()
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }
}
