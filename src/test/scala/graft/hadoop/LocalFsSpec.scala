package graft.hadoop

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] and [[LocalFileSystem]] answer Hadoop's `file:` calls
  * exactly as Hadoop's own `LocalFs` and `LocalFileSystem` do, without
  * forking; no Spark session. */
class LocalFsSpec extends AnyFunSuite {

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val graftRaw = rawFs(new LocalFs.RawFileSystem)
  private val hadoopRaw = rawFs(new RawLocalFileSystem)

  private def withTempDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft_localfs")
    try body(dir)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  private def hpath(p: JPath): Path = new Path(p.toUri)

  private def fields(st: FileStatus) =
    (st.getPath, st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else null, st.getModificationTime,
      st.getPermission, st.getOwner, st.getGroup)

  test("getFileLinkStatus equals RawLocalFileSystem's for files, dirs and symlinks") {
    def linkStatus(fs: RawLocalFileSystem, p: Path) =
      Try(fields(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    withTempDir { dir =>
      val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
      val sub = Files.createDirectory(dir.resolve("dir"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      for (p <- Seq(file, sub, link, dangling)) {
        // Hadoop resolves `readlink` on the path string, so it reports
        // symlinks for scheme-less paths only; check both forms
        val bare = new Path(p.toString)
        for (hp <- Seq(hpath(p), bare))
          assert(linkStatus(graftRaw, hp) == linkStatus(hadoopRaw, hp), hp)
        assert(graftRaw.getFileLinkStatus(bare).isSymlink == Files.isSymbolicLink(p), p)
      }
    }
  }

  test("statuses and listLocatedStatus carry RawLocalFileSystem's length, mode, owner and group") {
    withTempDir { dir =>
      val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
      val sub = Files.createDirectory(dir.resolve("dir"))
      val sticky = Files.createDirectory(dir.resolve("sticky"))
      hadoopRaw.setPermission(hpath(sticky), new FsPermission(0x3ff.toShort)) // 1777
      for (p <- Seq(file, sub, sticky)) {
        val ours = graftRaw.getFileStatus(hpath(p))
        // a plain FileStatus: Hadoop's own loads its permissions by `ls -ld`
        assert(ours.getClass == classOf[FileStatus], p)
        assert(fields(ours) == fields(hadoopRaw.getFileStatus(hpath(p))), p)
      }
      assert(graftRaw.listStatus(hpath(file)).map(fields).toSeq ==
        hadoopRaw.listStatus(hpath(file)).map(fields).toSeq)
      val out = fileSystem(graft = true).create(hpath(dir.resolve("data")), true)
      try out.write("data".getBytes) finally out.close()
      // the checksummed filesystems hide `.data.crc` alike
      def listing(graft: Boolean) = {
        val it = fileSystem(graft).listLocatedStatus(hpath(dir))
        val b = Seq.newBuilder[(String, Long, FsPermission, String, String)]
        while (it.hasNext) {
          val st = it.next()
          b += ((st.getPath.getName, st.getLen, st.getPermission, st.getOwner, st.getGroup))
        }
        b.result().sortBy(_._1)
      }
      assert(listing(graft = true).map(_._1) == Seq("data", "dir", "file", "sticky"))
      assert(listing(graft = true) == listing(graft = false))
    }
  }

  test("getFileLinkStatus of a missing path throws FileNotFoundException in both") {
    withTempDir { dir =>
      val missing = hpath(dir.resolve("missing"))
      intercept[FileNotFoundException](graftRaw.getFileLinkStatus(missing))
      intercept[FileNotFoundException](hadoopRaw.getFileLinkStatus(missing))
    }
  }

  test("setPermission leaves the same POSIX mode as RawLocalFileSystem's chmod") {
    withTempDir { dir =>
      val cases = Seq(0x180 -> false, 0x1a4 -> false, 0x1c0 -> false, 0x1ed -> false,
        0x3ff -> true) // 0600, 0644, 0700, 0755 on files; 1777 on a directory
      for ((m, isDir) <- cases) {
        val Seq(ours, theirs) = Seq("graft", "hadoop").map { who =>
          val p = dir.resolve(f"$who%s_$m%o")
          if (isDir) Files.createDirectory(p) else Files.createFile(p)
        }
        graftRaw.setPermission(hpath(ours), new FsPermission(m.toShort))
        hadoopRaw.setPermission(hpath(theirs), new FsPermission(m.toShort))
        assert(mode(ours) == m, f"$m%o")
        assert(mode(ours) == mode(theirs), f"$m%o")
      }
    }
  }

  private def fileContext(graft: Boolean): FileContext = {
    val conf = new Configuration()
    if (graft) conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    FileContext.getFileContext(URI.create("file:///"), conf)
  }

  private def writeFile(fc: FileContext, p: Path, bytes: Array[Byte]): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(bytes) finally out.close()
  }

  test("a FileContext on graft.hadoop.LocalFs leaves Hadoop LocalFs's files, .crc included") {
    def listing(graft: Boolean): Seq[String] =
      withTempDir { dir =>
        val fc = fileContext(graft)
        assert(fc.getDefaultFileSystem.getClass.getName ==
          (if (graft) classOf[LocalFs].getName else "org.apache.hadoop.fs.local.LocalFs"))
        val dst = hpath(dir.resolve("delta"))
        writeFile(fc, dst, "old".getBytes)
        val tmp = hpath(dir.resolve(".delta.tmp"))
        writeFile(fc, tmp, "new".getBytes)
        fc.rename(tmp, dst, Options.Rename.OVERWRITE)
        val in = fc.open(dst)
        try assert(new String(in.readAllBytes()) == "new") finally in.close()
        Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      }
    val ours = listing(graft = true)
    assert(ours == listing(graft = false))
    assert(ours == Seq(".delta.crc", "delta"))
  }

  test("a flipped data byte fails the checksummed read") {
    withTempDir { dir =>
      val fc = fileContext(graft = true)
      val p = hpath(dir.resolve("data"))
      writeFile(fc, p, Array.tabulate[Byte](2000)(_.toByte))
      val raw = dir.resolve("data")
      val bytes = Files.readAllBytes(raw)
      bytes(1234) = (bytes(1234) ^ 0x40).toByte
      Files.write(raw, bytes)
      assert(Files.exists(dir.resolve(".data.crc")))
      // open(path, bufferSize) is ChecksumFs's checked open; Hadoop's
      // FilterFs routes the one-argument open to the raw stream
      val in = fc.open(p, 4096)
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    }
  }

  private def fileSystem(graft: Boolean): org.apache.hadoop.fs.LocalFileSystem = {
    val fs = if (graft) new LocalFileSystem else new org.apache.hadoop.fs.LocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("graft.hadoop.LocalFileSystem leaves Hadoop LocalFileSystem's files and modes, .crc included") {
    def layout(graft: Boolean): Seq[(String, Int)] =
      withTempDir { dir =>
        val fs = fileSystem(graft)
        assert(fs.getRawFileSystem.isInstanceOf[LocalFs.RawFileSystem] == graft)
        // create makes the missing parent directories, as the sink's
        // first shard does for `<basename>.d`
        def put(p: Path, text: String): Unit = {
          val out = fs.create(p, true)
          try out.write(text.getBytes) finally out.close()
        }
        val tmp = hpath(dir.resolve("g.d/part-00000.attempt-7.graph"))
        put(tmp, "shard")
        val dst = hpath(dir.resolve("g.d/part-00000.graph"))
        put(dst, "old")
        assert(fs.delete(dst, false))
        assert(fs.rename(tmp, dst))
        put(hpath(dir.resolve("g.shards")), "shards=1\n")
        assert(fs.mkdirs(hpath(dir.resolve("empty/sub"))))
        val in = fs.open(dst)
        try assert(new String(in.readAllBytes()) == "shard") finally in.close()
        Files.walk(dir).iterator().asScala.filter(_ != dir)
          .map(p => dir.relativize(p).toString -> mode(p)).toSeq.sorted
      }
    val ours = layout(graft = true)
    assert(ours == layout(graft = false))
    assert(ours == Seq("empty" -> 0x1ed, "empty/sub" -> 0x1ed, "g.d" -> 0x1ed,
      "g.d/.part-00000.graph.crc" -> 0x1a4, "g.d/part-00000.graph" -> 0x1a4,
      ".g.shards.crc" -> 0x1a4, "g.shards" -> 0x1a4).sorted) // 0755 dirs, 0644 files
  }

  test("a flipped data byte fails graft.hadoop.LocalFileSystem's checksummed read") {
    withTempDir { dir =>
      val fs = fileSystem(graft = true)
      val p = hpath(dir.resolve("data"))
      val out = fs.create(p, true)
      try out.write(Array.tabulate[Byte](2000)(_.toByte)) finally out.close()
      val raw = dir.resolve("data")
      val bytes = Files.readAllBytes(raw)
      bytes(1234) = (bytes(1234) ^ 0x40).toByte
      Files.write(raw, bytes)
      assert(Files.exists(dir.resolve(".data.crc")))
      val in = fs.open(p)
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    }
  }
}
