package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import graft.util.{NoForkLocalFileSystem, NoForkLocalFs, NoForkRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

class LocalFsSpec extends SparkSpec {

  private val local = new URI("file:///")

  /** The session's Hadoop conf, and the same conf naming the stock
    * classes (so both sides share one umask). */
  private def confs(): (Configuration, Configuration) = {
    val ours = new Configuration(spark.sparkContext.hadoopConfiguration)
    val stock = new Configuration(ours)
    stock.set("fs.file.impl", classOf[LocalFileSystem].getName)
    stock.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    (ours, stock)
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Every path below `root`, relative, with its mode bits. */
  private def modes(root: String): Map[String, Int] = {
    val base = Paths.get(root)
    val it = Files.walk(base)
    try it.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_ != base).map(p => base.relativize(p).toString -> mode(p.toString)).toMap
    finally it.close()
  }

  test("under GraftSession, FileSystem and FileContext resolve to the fork-free classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(local, conf)
    assert(fs.isInstanceOf[NoForkLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NoForkRawLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.isInstanceOf[NoForkLocalFs])
    assert(AbstractFileSystem.get(local, conf).isInstanceOf[NoForkLocalFs])
  }

  test("files and dirs get the stock LocalFileSystem's mode bits through both APIs") {
    val (ours, stock) = confs()
    val top = Files.createTempDirectory("localfs_modes").toString
    def populate(conf: Configuration, root: String): Unit = {
      val fs = FileSystem.newInstance(local, conf)
      fs.create(new Path(s"$root/fs/a/plain.bin")).close()
      fs.create(new Path(s"$root/fs/b/perm.bin"), perm("640"), true, 4096, 1.toShort,
        1L << 20, null).close()
      fs.mkdirs(new Path(s"$root/fs/c/d"))
      fs.mkdirs(new Path(s"$root/fs/e"), perm("750"))
      fs.create(new Path(s"$root/fs/f.bin")).close()
      fs.setPermission(new Path(s"$root/fs/f.bin"), perm("604"))
      fs.mkdirs(new Path(s"$root/fs/sticky"))
      fs.setPermission(new Path(s"$root/fs/sticky"), perm("1777"))
      // a directory's setgid bit survives a 4-digit chmod, as with GNU chmod
      fs.mkdirs(new Path(s"$root/fs/setgid"))
      Files.setAttribute(Paths.get(s"$root/fs/setgid"), "unix:mode",
        Integer.valueOf(Integer.parseInt("2775", 8)))
      fs.setPermission(new Path(s"$root/fs/setgid"), perm("750"))
      fs.close()
      val fc = FileContext.getFileContext(local, conf)
      fc.create(new Path(s"$root/fc/x/plain.bin"), java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent()).close()
      fc.create(new Path(s"$root/fc/perm.bin"), java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent(), Options.CreateOpts.perms(perm("600"))).close()
      fc.mkdir(new Path(s"$root/fc/y/z"), perm("755"), true)
      fc.mkdir(new Path(s"$root/fc/sticky"), FsPermission.getDirDefault, true)
      fc.setPermission(new Path(s"$root/fc/sticky"), perm("1770"))
      fc.setPermission(new Path(s"$root/fc/perm.bin"), perm("664"))
    }
    populate(stock, s"$top/stock")
    populate(ours, s"$top/ours")
    val want = modes(s"$top/stock")
    assert(want.size >= 20, want)
    assert(want("fs/sticky") == Integer.parseInt("1777", 8))
    assert(want("fs/setgid") == Integer.parseInt("2750", 8))
    assert(modes(s"$top/ours") == want)
    graft.util.Scratch.deleteRecursively(new java.io.File(top))
  }

  test("setPermission on a missing path throws FileNotFoundException") {
    val (ours, _) = confs()
    val fs = FileSystem.newInstance(local, ours)
    val missing = new Path(Files.createTempDirectory("localfs_missing").toString, "absent")
    intercept[java.io.FileNotFoundException](fs.setPermission(missing, perm("644")))
    intercept[java.io.FileNotFoundException](
      fs.asInstanceOf[LocalFileSystem].getRaw.setPermission(missing, perm("644")))
    fs.close()
  }

  test("getFileLinkStatus reports a real symlink and its target, as the stock class does") {
    val (ours, stock) = confs()
    val dir = Files.createTempDirectory("localfs_link")
    val target = Files.write(dir.resolve("target.bin"), Array.fill[Byte](37)(1))
    val link = Files.createSymbolicLink(dir.resolve("link.bin"), target)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling.bin"), dir.resolve("gone"))
    val fs = FileSystem.newInstance(local, ours)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
    assert(st.getPath.toUri.getPath == link.toString)
    assert(st.getLen == 37)
    assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
    assert(fs.getFileLinkStatus(new Path(dangling.toString)).getSymlink.toUri.getPath ==
      dir.resolve("gone").toString)
    // the stock class detects links only under an unqualified path
    val stockFs = FileSystem.newInstance(local, stock)
    for (p <- Seq(link, target, dangling).map(x => new Path(x.toString))) {
      val (a, b) = (fs.getFileLinkStatus(p), stockFs.getFileLinkStatus(p))
      assert((a.isSymlink, a.getLen, a.getPath) == (b.isSymlink, b.getLen, b.getPath), p)
      if (a.isSymlink) assert(a.getSymlink == b.getSymlink, p)
    }
    val fcSt = FileContext.getFileContext(local, ours).getFileLinkStatus(new Path(link.toString))
    assert(fcSt.isSymlink && fcSt.getSymlink.toUri.getPath == target.toString)
    fs.close(); stockFs.close()
    graft.util.Scratch.deleteRecursively(dir.toFile)
  }

  test("FileContext create-then-rename round trip, as a checkpoint commit does it") {
    val (ours, _) = confs()
    val dir = Files.createTempDirectory("localfs_rename").toString
    val fc = FileContext.getFileContext(local, ours)
    val (tmp, dst) = (new Path(s"$dir/offsets/.0.tmp"), new Path(s"$dir/offsets/0"))
    val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    out.write("v1\n{\"batch\":0}".getBytes("UTF-8"))
    out.close()
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(tmp) && fc.util.exists(dst))
    val in = fc.open(dst)
    val got = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(got == "v1\n{\"batch\":0}")
    assert(new java.io.File(s"$dir/offsets/.0.crc").exists(), "the checksum moves with the file")
    graft.util.Scratch.deleteRecursively(new java.io.File(dir))
  }
}
