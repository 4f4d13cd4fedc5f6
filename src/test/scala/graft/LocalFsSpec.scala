package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.core.{LocalFs, Tables}

/** [[graft.core.LocalFs]] keeps stock Hadoop's local semantics: the
  * same permissions, `.crc` siblings, statuses, overwrite renames and
  * link statuses as Hadoop's own `LocalFileSystem`, which each test
  * builds unbound (outside the FileSystem cache) as the reference.
  */
class LocalFsSpec extends SparkSpec {
  import SpawnSpec.record

  /** The session's `file:` FileSystem; a stock one would make every
    * comparison below pass trivially.
    */
  private def ours: FileSystem =
    FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration) match {
      case fs: LocalFs => fs
      case fs => fail(s"file: is bound to ${fs.getClass.getName}")
    }

  private def withStock[T](body: FileSystem => T): T = {
    val fs = new org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(URI.create("file:///"), new Configuration())
    try body(fs) finally fs.close()
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** The status fields a caller can see, path included. */
  private def fields(st: org.apache.hadoop.fs.FileStatus) =
    (st.getPath, st.getLen, st.isDirectory, st.isSymlink, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)

  test("writes land with Hadoop's modes and checksum siblings") {
    withTempDir { root =>
      withStock { stock =>
        for ((fs, tag) <- Seq(ours -> "ours", stock -> "stock")) {
          val dir = new Path(root.toString, s"$tag/a/b")
          assert(fs.mkdirs(dir))
          val out = fs.create(new Path(dir, "f.txt"))
          try out.write("payload".getBytes("UTF-8")) finally out.close()
        }
        for (tag <- Seq("ours", "stock")) {
          val dir = root.resolve(s"$tag/a/b")
          assert(mode(dir) == "rwxr-xr-x", tag)
          assert(mode(root.resolve(s"$tag/a")) == "rwxr-xr-x", tag)
          assert(mode(dir.resolve("f.txt")) == "rw-r--r--", tag)
          assert(Files.exists(dir.resolve(".f.txt.crc")), tag)
          assert(mode(dir.resolve(".f.txt.crc")) == "rw-r--r--", tag)
        }
        assert(Files.readAllBytes(root.resolve("ours/a/b/.f.txt.crc")).toSeq ==
          Files.readAllBytes(root.resolve("stock/a/b/.f.txt.crc")).toSeq)
      }
    }
  }

  test("statuses and listings match stock Hadoop's, permission and owner included") {
    withTempDir { root =>
      Files.createDirectories(root.resolve("d/sub"))
      Files.writeString(root.resolve("d/x.parquet"), "xx")
      Files.writeString(root.resolve("d/sub/y.parquet"), "yyy")
      Files.setPosixFilePermissions(root.resolve("d/x.parquet"),
        PosixFilePermissions.fromString("rw-r-----"))
      withStock { stock =>
        for (p <- Seq("d", "d/x.parquet", "d/sub", "d/sub/y.parquet")) {
          val path = new Path(root.resolve(p).toString)
          assert(fields(ours.getFileStatus(path)) == fields(stock.getFileStatus(path)), p)
          assert(ours.listStatus(path).map(fields).toSeq.sortBy(_._1.toString) ==
            stock.listStatus(path).map(fields).toSeq.sortBy(_._1.toString), p)
        }
        assert(ours.getFileStatus(new Path(root.resolve("d/x.parquet").toString))
          .getPermission.toString == "rw-r-----")
        val missing = new Path(root.resolve("nope").toString)
        intercept[java.io.FileNotFoundException](ours.getFileStatus(missing))
        intercept[java.io.FileNotFoundException](ours.listStatus(missing))
      }
    }
  }

  test("owner and group names read by id equal the file system's own, " +
      "for a file and a directory") {
    withTempDir { root =>
      Files.createDirectories(root.resolve("d"))
      Files.writeString(root.resolve("d/x.parquet"), "xx")
      for (p <- Seq("d", "d/x.parquet"); _ <- 1 to 2) {
        val nio = root.resolve(p)
        val st = ours.getFileStatus(new Path(nio.toString))
        assert(st.getOwner == Files.getOwner(nio).getName, p)
        assert(st.getGroup == Files.readAttributes(nio,
          classOf[java.nio.file.attribute.PosixFileAttributes]).group.getName, p)
      }
    }
  }

  test("FileContext.rename with OVERWRITE replaces the destination") {
    withTempDir { root =>
      val conf = spark.sparkContext.hadoopConfiguration
      val (src, dst) = (new Path(root.resolve("src").toString), new Path(root.resolve("dst").toString))
      for ((p, body) <- Seq(src -> "new", dst -> "old")) {
        val out = ours.create(p)
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      val fc = FileContext.getFileContext(dst.toUri, conf)
      assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Afs])
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](fc.rename(src, dst))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!Files.exists(root.resolve("src")))
      assert(Files.readString(root.resolve("dst")) == "new")
      assert(Files.exists(root.resolve(".dst.crc")) && !Files.exists(root.resolve(".src.crc")))
    }
  }

  test("a symlink's link status reports the link and its target") {
    withTempDir { root =>
      Files.writeString(root.resolve("target.txt"), "abc")
      Files.createSymbolicLink(root.resolve("link"), Paths.get("target.txt"))
      val link = new Path(root.resolve("link").toString)
      val target = new Path(root.resolve("target.txt").toString).makeQualified(ours.getUri, null)
      val st = ours.getFileLinkStatus(link)
      assert(st.isSymlink && !st.isDirectory)
      assert(st.getSymlink == target)
      assert(ours.getLinkTarget(link) == new Path("target.txt"))
      // the followed status is the target's
      val followed = ours.getFileStatus(link)
      assert(followed.isFile && followed.getLen == 3)
      val fc = FileContext.getFileContext(link.toUri, spark.sparkContext.hadoopConfiguration)
      val fcSt = fc.getFileLinkStatus(link)
      assert(fcSt.isSymlink && fcSt.getSymlink == target)
      // a regular file is no link
      assert(!ours.getFileLinkStatus(new Path(root.resolve("target.txt").toString)).isSymlink)
    }
  }

  test("a sticky-bit permission takes Hadoop's own path; a plain one forks nothing") {
    withTempDir { root =>
      val dir = new Path(root.resolve("sticky").toString)
      assert(ours.mkdirs(dir))
      val (_, plain) = record(ours.setPermission(dir, new FsPermission("750")))
      assert(mode(root.resolve("sticky")) == "rwxr-x---")
      assert(plain.isEmpty, plain)
      val (_, sticky) = record(ours.setPermission(dir, new FsPermission("1777")))
      assert(sticky.exists(_.command.startsWith("chmod")), sticky)
      val st = ours.getFileStatus(dir)
      assert(st.getPermission.getStickyBit && st.getPermission.toString == "rwxrwxrwt")
    }
  }

  test("tableFingerprint keeps its listFiles keys on flat and partitioned tables") {
    // the key as computed before the walk moved to listStatus: a
    // recursive listFiles over stock Hadoop's FileSystem
    def reference(fs: FileSystem, sfDir: String, name: String): String = {
      val p = new Path(s"$sfDir/$name.parquet")
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        val rel = p.toUri.relativize(st.getPath.toUri).getPath
        buf += s"$rel:${st.getLen}:${st.getModificationTime}"
      }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(buf.sorted.mkString(";").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
    }
    withTempDir { root =>
      import spark.implicits._
      val sf = root.toString
      val df = (1 to 40).map(i => (i.toLong, s"t$i", i % 3)).toDF("id", "text", "cell")
      df.write.parquet(s"$sf/flat.parquet")
      df.write.partitionBy("cell").parquet(s"$sf/parted.parquet")
      withStock { stock =>
        for (name <- Seq("flat", "parted")) {
          assert(Tables.tableFingerprint(spark, sf, name) == reference(stock, sf, name), name)
          assert(Tables.derivedStateKey(spark, sf, name) ==
            s"$sf@${reference(stock, sf, name)}", name)
        }
      }
      // a nested file's change reaches the key
      val before = Tables.tableFingerprint(spark, sf, "parted")
      val nested = Files.list(root.resolve("parted.parquet/cell=1"))
      val part = try nested.filter(_.toString.endsWith(".parquet")).findFirst().get
        finally nested.close()
      Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(part).toMillis + 5000))
      assert(Tables.tableFingerprint(spark, sf, "parted") != before)
    }
  }
}
