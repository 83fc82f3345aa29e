package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, FsConstants,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalFs

/** Parity of the fork-free `file:` layer ([[LocalFs]]) with stock
  * Hadoop: every operation runs once through each and the on-disk
  * result must agree — permissions, link status, checkpoint-style
  * create-and-rename and the `.crc` sidecars.
  */
class LocalFsSpec extends AnyFunSuite {

  /** A non-default umask, so the umask arithmetic is exercised too. */
  private val conf = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    c
  }
  private def init(fs: FileSystem): FileSystem = { fs.initialize(FsConstants.LOCAL_FS_URI, conf); fs }
  private def stockFs: FileSystem = init(new LocalFileSystem(new RawLocalFileSystem))
  private def fastFs: FileSystem = init(new LocalFs.FileSystem)
  private def stockFc: FileContext = FileContext.getLocalFSFileContext(conf)
  private def fastFc: FileContext = {
    val c = new Configuration(conf)
    LocalFs.settings.foreach { case (k, v) => c.set(k, v) }
    FileContext.getLocalFSFileContext(c)
  }

  private def tmp(prefix: String): NioPath = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }
  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF
  private def chmod(mode: String, p: NioPath): Unit =
    assert(new ProcessBuilder("chmod", mode, p.toString).start().waitFor() === 0)

  private val modes = Seq(0x1A4, 0x1ED, 0x1C0, 0x180, 0x1FF) // 0644 0755 0700 0600 0777

  test("files and directories get the same permissions as through stock, under umask 027") {
    def write(fs: FileSystem, root: NioPath): Unit = modes.foreach { m =>
      val perm = new FsPermission(m.toShort)
      val out = fs.create(new Path(root.toString, f"f$m%o"), perm, true, 4096, 1.toShort, 1L << 26, null)
      out.write(1); out.close()
      assert(fs.mkdirs(new Path(root.toString, f"d$m%o/child"), perm))
    }
    def writeFc(fc: FileContext, root: NioPath): Unit = modes.foreach { m =>
      val perm = new FsPermission(m.toShort)
      val out = fc.create(new Path(root.toString, f"cf$m%o"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm))
      out.write(1); out.close()
      fc.mkdir(new Path(root.toString, f"cd$m%o/child"), perm, true)
    }
    val (stock, fast) = (tmp("graft-lfs-stock"), tmp("graft-lfs-fast"))
    write(stockFs, stock); writeFc(stockFc, stock)
    write(fastFs, fast); writeFc(fastFc, fast)
    def modesUnder(root: NioPath): Map[String, Int] =
      Files.walk(root).iterator.asScala.filter(_ != root)
        .map(p => root.relativize(p).toString -> mode(p)).toMap
    val expected = modesUnder(stock)
    // each mode masked by 027, on files, their .crc sidecars and dirs
    assert(expected("f777") === 0x1E8 && expected("d777/child") === 0x1E8)
    assert(expected.keySet.contains(".f644.crc"))
    assert(modesUnder(fast) === expected)
  }

  test("a sticky bit, or setgid already on a directory, takes Hadoop's own chmod") {
    val (stock, fast) = (tmp("graft-lfs-stock"), tmp("graft-lfs-fast"))
    Seq(stock -> stockFs, fast -> fastFs).foreach { case (root, fs) =>
      val sticky = new Path(root.toString, "sticky")
      assert(fs.mkdirs(sticky))
      fs.setPermission(sticky, new FsPermission(0x3FF.toShort)) // 01777
      chmod("2775", root) // new subdirectories inherit setgid
      assert(fs.mkdirs(new Path(root.toString, "sgid"), new FsPermission(0x1ED.toShort)))
    }
    // NIO cannot set the sticky bit: only the fallback can produce it
    assert(mode(fast.resolve("sticky")) === 0x3FF)
    assert(mode(fast.resolve("sticky")) === mode(stock.resolve("sticky")))
    // chmod 0755 keeps a directory's setgid; a plain NIO chmod would drop it
    assert(mode(fast.resolve("sgid")) === 0x5E8) // 02750
    assert(mode(fast.resolve("sgid")) === mode(stock.resolve("sgid")))
  }

  test("getFileLinkStatus matches stock on a file, a directory, a symlink and a missing path") {
    val root = tmp("graft-lfs-link")
    Files.writeString(root.resolve("file"), "x")
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    def view(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup, if (s.isSymlink) s.getSymlink else null)
    val (stock, fast) = (stockFs, fastFs)
    for (name <- Seq("file", "dir", "link"); qualified <- Seq(false, true)) {
      val p = new Path(root.resolve(name).toString)
      val q = if (qualified) p.makeQualified(FsConstants.LOCAL_FS_URI, p) else p
      assert(view(fast.getFileLinkStatus(q)) === view(stock.getFileLinkStatus(q)), q)
    }
    assert(fast.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
    // FileContext resolves links through the AbstractFileSystem twin
    val link = new Path(root.resolve("link").toString)
    assert(view(fastFc.getFileLinkStatus(link)) === view(stockFc.getFileLinkStatus(link)))
    val missing = new Path(root.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fast.getFileLinkStatus(missing))
  }

  test("checkpoint files: FileContext create, rename with overwrite, .crc sidecars kept") {
    /** The checkpoint manager's atomic commit: write a temp file, then
      * rename it over the destination — twice, the second overwriting. */
    def commit(fc: FileContext, root: NioPath): Unit = Seq("first", "second").foreach { body =>
      val tmpFile = new Path(root.toString, s".0.$body.tmp")
      val out = fc.create(tmpFile, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write(body.getBytes(UTF_8)); out.close()
      fc.rename(tmpFile, new Path(root.toString, "0"), Options.Rename.OVERWRITE)
    }
    val (stock, fast) = (tmp("graft-lfs-stock"), tmp("graft-lfs-fast"))
    commit(stockFc, stock)
    commit(fastFc, fast)
    assert(fastFc.getDefaultFileSystem.isInstanceOf[LocalFs.Fs])
    def listing(root: NioPath): Map[String, Seq[Byte]] =
      Files.list(root).iterator.asScala.map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    assert(listing(fast).keySet === Set("0", ".0.crc"))
    assert(listing(fast) === listing(stock))
    // the checksummed read verifies the renamed sidecar
    val in = fastFc.open(new Path(fast.toString, "0"))
    try assert(new String(in.readAllBytes(), UTF_8) === "second") finally in.close()
  }
}
