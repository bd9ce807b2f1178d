package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs}

/** [[NioLocalFileSystem]] writes and reports the file and directory
  * modes, owners and groups Hadoop's default local file system does. */
class LocalFileSystemSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def fresh(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff

  /** What `fs` leaves on disk for a nested mkdirs, a create, a
    * create-with-permission and a chmod, relative to `root`. */
  private def exercise(fs: FileSystem, root: Path): Seq[(String, Int)] = {
    fs.mkdirs(new Path(root, "a/b=1/c"))
    val out = fs.create(new Path(root, "a/b=1/c/part-0.parquet"), true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    fs.create(new Path(root, "a/x.json"), new FsPermission("640"), true,
      4096, 1.toShort, 1L << 20, null).close()
    fs.create(new Path(root, "a/y")).close()
    fs.setPermission(new Path(root, "a/y"), new FsPermission("600"))
    fs.mkdirs(new Path(root, "d"), new FsPermission("750"))
    Seq("a", "a/b=1", "a/b=1/c", "a/b=1/c/part-0.parquet",
      "a/b=1/c/.part-0.parquet.crc", "a/x.json", "a/y", "d")
      .map(r => r -> mode(new Path(root, r)))
  }

  test("modes written through it equal the default local file system's") {
    val dir = Files.createTempDirectory("graft-nio").toString
    val dflt = exercise(fresh(new LocalFileSystem()), new Path(dir, "dflt"))
    val nio = exercise(fresh(new NioLocalFileSystem), new Path(dir, "nio"))
    assert(nio == dflt)
    assert(dflt.toMap.apply("a/y") == Integer.parseInt("600", 8))
  }

  test("listed statuses report the default file system's permission, owner and group") {
    val dir = Files.createTempDirectory("graft-nio").toString
    val root = new Path(dir)
    val dfs = fresh(new LocalFileSystem())
    dfs.mkdirs(new Path(root, "p=1"))
    dfs.create(new Path(root, "p=1/f")).close()
    dfs.setPermission(new Path(root, "p=1/f"), new FsPermission("640"))
    val nfs = fresh(new NioLocalFileSystem)
    def seen(fs: FileSystem) = fs.listStatus(new Path(root, "p=1"))
      .filterNot(_.getPath.getName.startsWith("."))
      .map(s => (s.getPath.getName, s.getPermission, s.getOwner, s.getGroup)).toSeq :+ {
      val s = fs.getFileStatus(new Path(root, "p=1"))
      (s.getPath.getName, s.getPermission, s.getOwner, s.getGroup)
    }
    assert(seen(nfs) == seen(dfs))
    val link = nfs.getFileLinkStatus(new Path(root, "p=1/f"))
    assert(!link.isSymlink && link.getPermission == new FsPermission("640"))
  }

  test("FileContext: an overwriting rename leaves the default modes") {
    val dir = Files.createTempDirectory("graft-nio").toString
    def run(fc: FileContext, root: Path): Seq[Int] = {
      val tmp = new Path(root, "ck/.1.tmp")
      val dst = new Path(root, "ck/1")
      for (_ <- 1 to 2) {
        val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(7); out.close()
        fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      }
      Seq(mode(new Path(root, "ck")), mode(dst))
    }
    val uri = URI.create("file:///")
    val dflt = run(FileContext.getFileContext(
      AbstractFileSystem.createFileSystem(uri, conf), conf), new Path(dir, "dflt"))
    val nio = run(FileContext.getFileContext(new NioLocalFs(uri, conf), conf),
      new Path(dir, "nio"))
    assert(nio == dflt)
  }
}
