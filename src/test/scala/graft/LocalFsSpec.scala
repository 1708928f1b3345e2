package graft

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.io.Source

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{LocalChecksumFs, LocalFs}

/** [[graft.io.LocalFs]] answers as Hadoop's stock `RawLocalFileSystem`
  * does, without starting a process, and `core-site.xml` binds it for
  * both Hadoop APIs.
  */
class LocalFsSpec extends AnyFunSuite {

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val graftFs = init(new LocalFs)

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  /** A file, a directory, a link to each, a dangling link and a missing
    * path, in a fresh directory.
    */
  private def cases(): (String, Seq[String]) = {
    val dir = Files.createTempDirectory("graft_localfs").toString
    Files.writeString(Paths.get(dir, "file"), "twelve bytes")
    Files.createDirectory(Paths.get(dir, "dir"))
    Files.createSymbolicLink(Paths.get(dir, "link_file"), Paths.get(dir, "file"))
    Files.createSymbolicLink(Paths.get(dir, "link_dir"), Paths.get("dir"))
    Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "nowhere"))
    // a sticky directory, and a file owned apart from its link where the
    // user may give it away (the link's own mode and owner never show)
    stock.setPermission(new Path(s"$dir/dir"), new FsPermission(0x3ff.toShort))
    try Files.setAttribute(Paths.get(dir, "file"), "unix:uid", 65534)
    catch { case _: java.io.IOException => () }
    (dir, Seq("file", "dir", "link_file", "link_dir", "dangling", "missing"))
  }

  private def fields(st: FileStatus): Seq[Any] =
    Seq(st.getPath, st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else null,
      st.getPermission, st.getOwner, st.getGroup, st.getModificationTime)

  /** The fields of `f(fs, path)`, or the exception class it throws. */
  private def answer(fs: RawLocalFileSystem, path: Path)(
      f: (RawLocalFileSystem, Path) => FileStatus): Either[Class[_], Seq[Any]] =
    try Right(fields(f(fs, path)))
    catch { case e: java.io.IOException => Left(e.getClass) }

  test("getFileLinkStatus and getFileStatus equal the stock answers for files, dirs, links, a dangling link and a missing path") {
    val (dir, names) = cases()
    for (name <- names; form <- Seq(s"$dir/$name", s"file:$dir/$name")) {
      val p = new Path(form)
      for ((what, f) <- Seq[(String, (RawLocalFileSystem, Path) => FileStatus)](
          "getFileLinkStatus" -> (_.getFileLinkStatus(_)),
          "getFileStatus" -> (_.getFileStatus(_)))) {
        val want = answer(stock, p)(f)
        assert(answer(graftFs, p)(f) == want, s"$what($form)")
      }
    }
    // the unqualified form of a link is seen as a link
    assert(graftFs.getFileLinkStatus(new Path(s"$dir/link_dir")).isSymlink)
    assert(graftFs.getFileLinkStatus(new Path(s"$dir/dangling")).isSymlink)
  }

  test("setPermission leaves the stock mode bits on files and dirs, and still applies a sticky bit") {
    val dir = Files.createTempDirectory("graft_localfs_perm").toString
    def made(fs: RawLocalFileSystem, name: String): (String, String) = {
      val f = s"$dir/$name.file"
      fs.create(new Path(f)).close() // permission under the default umask
      val d = s"$dir/$name.dir"
      assert(fs.mkdirs(new Path(d)))
      (f, d)
    }
    val (sf, sd) = made(stock, "stock")
    val (gf, gd) = made(graftFs, "graft")
    assert(mode(gf) == mode(sf) && mode(gd) == mode(sd), "create/mkdirs under the umask")
    for (bits <- Seq(0x1a4, 0x1ed, 0x1c0, 0x1ff); (s, g) <- Seq(sf -> gf, sd -> gd)) {
      stock.setPermission(new Path(s), new FsPermission(bits.toShort))
      graftFs.setPermission(new Path(g), new FsPermission(bits.toShort))
      assert(mode(g) == mode(s) && mode(g) == bits, f"$bits%o on $g")
    }
    val sticky = new FsPermission(0x3ff.toShort) // 01777
    stock.setPermission(new Path(sd), sticky)
    graftFs.setPermission(new Path(gd), sticky)
    assert(mode(gd) == mode(sd) && mode(gd) == 0x3ff)
  }

  test("a FileContext rename(OVERWRITE) of a temp file onto an existing file behaves as before") {
    def outcome(fc: FileContext): (Seq[String], String) = {
      val dir = Files.createTempDirectory("graft_localfs_rename").toString
      def write(p: String, s: String): Unit = {
        val out = fc.create(new Path(p), java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
      }
      write(s"$dir/1", "old")
      write(s"$dir/.1.tmp", "new")
      fc.rename(new Path(s"$dir/.1.tmp"), new Path(s"$dir/1"), Options.Rename.OVERWRITE)
      val in = fc.open(new Path(s"$dir/1")) // verifies the renamed checksum
      val text = try Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      (new java.io.File(dir).list().toSeq.sorted, text)
    }
    val stockConf = new Configuration()
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val want = outcome(FileContext.getLocalFSFileContext(stockConf))
    assert(want == (Seq(".1.crc", "1"), "new"))
    assert(outcome(FileContext.getLocalFSFileContext(new Configuration())) == want)
  }

  test("core-site.xml binds LocalFs for FileSystem and FileContext") {
    val raw = FileSystem.getLocal(new Configuration()).getRawFileSystem
    assert(raw.isInstanceOf[LocalFs], raw.getClass.getName)
    val afs = FileContext.getLocalFSFileContext(new Configuration()).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalChecksumFs], afs.getClass.getName)
  }
}
