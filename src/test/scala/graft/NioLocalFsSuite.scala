package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.streaming.{NioLocalFs, NioRawLocalFileSystem}

/** NioLocalFs must be indistinguishable from Hadoop's LocalFs where
  * Spark's checkpoint manager can see it: modes, link status, missing
  * paths, and FileContext rename semantics with `.crc` siblings. */
class NioLocalFsSuite extends SparkSuiteBase {

  private val FileRoot = URI.create("file:///")
  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(FileRoot, new Configuration()); fs
  }
  private lazy val hadoop = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private def tmp(): JPath =
    Files.createTempDirectory(JPath.of(graft.ops.GraftTmp.dir("niofs")), "t")
  private def hp(p: JPath): Path = new Path(p.toUri)
  /** The full mode, sticky/setuid/setgid bits included. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** Sets `perm` through both filesystems on twin paths; returns both modes. */
  private def bothModes(dir: Boolean, perm: FsPermission): (Int, Int) = {
    val d = tmp()
    val Seq(a, b) = Seq("a", "b").map { n =>
      val p = d.resolve(n)
      if (dir) Files.createDirectory(p) else Files.createFile(p)
    }
    hadoop.setPermission(hp(a), perm)
    nio.setPermission(hp(b), perm)
    (mode(a), mode(b))
  }

  private val plainModes = Seq(0x1a4 /* 644 */, 0x180 /* 600 */, 0x1ed /* 755 */,
    0x1e8 /* 750 */, 0x1c0 /* 700 */, 0x124 /* 444 */, 0x1ff /* 777 */, 0)

  test("rwx modes read back as Hadoop's chmod sets them, on files and directories") {
    for (dir <- Seq(false, true); m <- plainModes) {
      val (viaChmod, viaNio) = bothModes(dir, new FsPermission(m.toShort))
      assert(viaNio == viaChmod, f"dir=$dir mode $m%o: nio $viaNio%o, chmod $viaChmod%o")
      assert(viaNio == m)
    }
  }

  test("sticky and setuid modes take Hadoop's own path") {
    val sticky = new FsPermission(0x3ff.toShort) // 1777
    val (dirChmod, dirNio) = bothModes(dir = true, sticky)
    assert(dirNio == dirChmod && (dirNio & 0x200) != 0, f"sticky: $dirNio%o vs $dirChmod%o")
    // FsPermission's own short form carries no setuid bit; a subclass can
    // (RawLocalFileSystem formats toShort as the chmod argument)
    val setuid = new FsPermission(0x1ed.toShort) { override def toShort: Short = 0x9ed.toShort }
    val (fileChmod, fileNio) = bothModes(dir = false, setuid)
    assert(fileNio == fileChmod && (fileNio & 0x800) != 0, f"setuid: $fileNio%o vs $fileChmod%o")
  }

  /** Status fields, or the exception class where Hadoop throws. */
  private def linkStatus(fs: RawLocalFileSystem, p: Path): Any =
    try {
      val s = fs.getFileLinkStatus(p)
      (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime,
        s.getPermission, if (s.isSymlink) s.getSymlink else null)
    } catch { case e: java.io.IOException => e.getClass }

  test("link status: plain paths from getFileStatus, symlinks as Hadoop reports them") {
    val d = tmp()
    val f = Files.write(d.resolve("f"), "x".getBytes(UTF_8))
    val sub = Files.createDirectory(d.resolve("sub"))
    val link = Files.createSymbolicLink(d.resolve("link"), f)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    // both spellings: Hadoop resolves links of a bare path only (it runs
    // readlink on Path.toString, which for a file: URI names no file)
    for (p <- Seq(f, sub, link, dangling); h <- Seq(hp(p), new Path(p.toString)))
      assert(linkStatus(nio, h) == linkStatus(hadoop, h), h)
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(!nio.getFileLinkStatus(hp(f)).isSymlink)
  }

  test("a missing path throws FileNotFoundException") {
    val missing = hp(tmp().resolve("missing"))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc().getFileLinkStatus(missing))
  }

  /** A FileContext on NioLocalFs, as the checkpoint manager builds one. */
  private def fc(): FileContext = {
    val conf = new Configuration()
    conf.set(NioLocalFs.ConfKey, classOf[NioLocalFs].getName)
    FileContext.getFileContext(FileRoot, conf)
  }
  private def write(c: FileContext, p: Path, s: String): Unit = {
    val out = c.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }
  private def read(c: FileContext, p: Path): String = {
    val in = c.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("FileContext rename: no overwrite onto an existing file; OVERWRITE moves the .crc") {
    val c = fc()
    assert(c.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val d = tmp()
    val (src, dst) = (hp(d.resolve("src")), hp(d.resolve("dst")))
    write(c, src, "new")
    write(c, dst, "old")
    // HDFSMetadataLog relies on this to detect a concurrent writer
    intercept[FileAlreadyExistsException](c.rename(src, dst))
    assert(read(c, dst) == "old")
    c.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(d.resolve("src")) && !Files.exists(d.resolve(".src.crc")))
    assert(Files.exists(d.resolve(".dst.crc")))
    assert(read(c, dst) == "new") // verified against the moved checksum
  }

  test("a stream key's root registers NioLocalFs on the session") {
    graft.ops.Streaming.streamRoot(spark, "niofs_guard")
    val c = FileContext.getFileContext(FileRoot, spark.sessionState.newHadoopConf())
    assert(c.getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }
}
