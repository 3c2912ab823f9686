package graft

import java.net.URI
import java.nio.file.{Files, LinkOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.scalatest.funsuite.AnyFunSuite

/** [[ForklessLocalFileSystem]] and [[ForklessLocalFs]] against Hadoop's
  * stock `LocalFileSystem` and `LocalFs`: the same modes, link
  * statuses and rename outcomes on the same operations, and the
  * session wiring that puts them under every `file:` path. Instances
  * come from `FileSystem.newInstance` / a fresh `FileContext`, because
  * the `FileSystem` cache ignores the configuration. */
class LocalFsSpec extends AnyFunSuite {
  private val kinds = Seq("stock", "graft")
  private val root = URI.create("file:///")

  private def conf(kind: String, umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (kind == "graft") {
      c.set("fs.file.impl", classOf[ForklessLocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", classOf[ForklessLocalFs].getName)
    } else {
      c.set("fs.file.impl", classOf[LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    }
    c
  }

  private def withFs[T](kind: String, umask: String = "022")(body: FileSystem => T): T = {
    val fs = FileSystem.newInstance(root, conf(kind, umask))
    try body(fs) finally fs.close()
  }

  private def fc(kind: String, umask: String = "022"): FileContext =
    FileContext.getFileContext(root, conf(kind, umask))

  /** Relative path → full mode bits (sticky included) of everything
    * under `dir`, `.crc` sidecars too. */
  private def modes(dir: java.nio.file.Path): Map[String, Int] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff)
    }.toMap finally walk.close()
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the graft classes are the session's file: filesystems") {
    val spark = SparkTestSession.spark
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, hc).getClass == classOf[ForklessLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hc).getDefaultFileSystem.getClass ==
      classOf[ForklessLocalFs])
    val dir = SparkTestSession.tempDir("localfs_parquet").resolve("t")
    spark.range(10).write.parquet(dir.toString)
    val names = dir.toFile.list().toSeq
    val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.nonEmpty, names.toString)
    assert(parts.forall(p => names.contains(s".$p.crc")), names.toString)
    // the rest of Session.local's constant wiring: a codegen cache that
    // holds the workload, one executor class loader for every stream,
    // and 2 MB execution pages
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Session.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.sparkContext.getConf.get("spark.buffer.pageSize") == "2m")
  }

  test("created files and dirs get the stock modes through FileSystem and FileContext") {
    for (umask <- Seq("022", "077")) {
      val got = kinds.map { kind =>
        val dir = SparkTestSession.tempDir(s"localfs_modes_${kind}_$umask")
        withFs(kind, umask) { fs =>
          fs.create(new Path(s"$dir/fs_file")).close()
          fs.mkdirs(new Path(s"$dir/fs_dir/nested"))
          fs.mkdirs(new Path(s"$dir/fs_dir750"), new FsPermission("750"))
        }
        val c = fc(kind, umask)
        c.create(new Path(s"$dir/fc_parent/fc_file"),
          java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent()).close()
        c.mkdir(new Path(s"$dir/fc_dir/nested"), FsPermission.getDirDefault, true)
        modes(dir)
      }
      assert(got(0) == got(1), s"umask $umask")
      // the umask really reached the files: rw-r--r-- / rw-------
      val file = if (umask == "022") Integer.parseInt("644", 8) else Integer.parseInt("600", 8)
      assert(got(1)("fs_file") == file && got(1)("fc_parent/fc_file") == file, got(1).toString)
      assert(got(1).keySet.contains(".fs_file.crc"), got(1).toString)
    }
  }

  test("setPermission: a masked create mode and a sticky-bit dir match stock") {
    val created = FsCreateModes.create(new FsPermission("640"), new FsPermission("666"))
    val got = kinds.map { kind =>
      val dir = SparkTestSession.tempDir(s"localfs_chmod_$kind")
      withFs(kind) { fs =>
        fs.create(new Path(s"$dir/f")).close()
        fs.setPermission(new Path(s"$dir/f"), created)
        fs.mkdirs(new Path(s"$dir/sticky"))
        fs.setPermission(new Path(s"$dir/sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      }
      (mode(dir.resolve("f")), mode(dir.resolve("sticky")))
    }
    assert(got(0) == got(1))
    assert(got(1) == (Integer.parseInt("640", 8), Integer.parseInt("1777", 8)), got(1).toString)
  }

  test("getFileLinkStatus matches stock on a file, a dir, a link, a dangling link and a missing path") {
    val dir = SparkTestSession.tempDir("localfs_links")
    Files.write(dir.resolve("file"), "abc".getBytes)
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def view(s: FileStatus) =
      (s.getPath.toString, s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "",
        s.isDirectory, s.getLen)
    def outcome(status: => FileStatus): Either[String, Any] =
      Try(view(status)).toEither.left.map(_.getClass.getName)
    val names = Seq("file", "dir", "link", "dangling", "missing")
    // FileSystem with plain and qualified paths, FileContext qualified
    val got = kinds.map { kind =>
      val c = fc(kind)
      withFs(kind) { fs =>
        names.flatMap { n =>
          val plain = new Path(dir.resolve(n).toString)
          Seq(outcome(fs.getFileLinkStatus(plain)),
            outcome(fs.getFileLinkStatus(fs.makeQualified(plain))),
            outcome(c.getFileLinkStatus(plain)))
        }
      }
    }
    assert(got(0) == got(1))
    val byName = names.zip(got(1).grouped(3).toSeq).toMap
    assert(byName("file").forall(o => o.exists { case v: Product => v.productElement(4) == 3L }))
    assert(byName("dir").forall(o => o.exists { case v: Product => v.productElement(3) == true }))
    assert(byName("link").head.exists { case v: Product => v.productElement(1) == true })
    assert(byName("missing").forall(_ == Left(classOf[java.io.FileNotFoundException].getName)))
  }

  test("FileContext rename with OVERWRITE matches stock onto a file and onto a missing parent") {
    val got = kinds.map { kind =>
      val dir = SparkTestSession.tempDir(s"localfs_rename_$kind")
      val c = fc(kind)
      def write(name: String, body: String): Unit = {
        val out = c.create(new Path(s"$dir/$name"), java.util.EnumSet.of(CreateFlag.CREATE))
        try out.write(body.getBytes) finally out.close()
      }
      write("src", "new")
      write("dst", "old")
      c.rename(new Path(s"$dir/src"), new Path(s"$dir/dst"), Options.Rename.OVERWRITE)
      write("src2", "x")
      val missing = Try(c.rename(new Path(s"$dir/src2"), new Path(s"$dir/nope/dst"),
        Options.Rename.OVERWRITE)).toEither.left.map(_.getClass.getName)
      (modes(dir).keySet, new String(Files.readAllBytes(dir.resolve("dst"))), missing)
    }
    assert(got(0) == got(1))
    assert(got(1)._1 == Set("dst", ".dst.crc", "src2", ".src2.crc"), got(1).toString)
    assert(got(1)._2 == "new" && got(1)._3.isLeft, got(1).toString)
  }
}
