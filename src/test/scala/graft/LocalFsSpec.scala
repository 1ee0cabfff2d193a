package graft

import java.net.URI
import java.nio.file.{Files => JFiles, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The nio local filesystem (Fs.scala) against Hadoop's stock
  * `RawLocalFileSystem`/`LocalFs`: same modes, links, rename contract and
  * `.crc` files, and no `chmod`/`readlink` child process per operation. */
class LocalFsSpec extends AnyFunSuite {
  private val root = URI.create("file:///")
  private val conf = new Configuration()
  private val nioConf = {
    val c = new Configuration()
    Fs.nioLocalConf.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(root, conf); fs }
  private val stock = init(new LocalFileSystem(new RawLocalFileSystem))
  private val nio = init(new NioLocalFileSystem)
  private val stockFc = FileContext.getFileContext(root, conf)
  private val nioFc = FileContext.getFileContext(root, nioConf)
  private val sides = Seq("stock" -> (stock, stockFc), "nio" -> (nio, nioFc))

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int =
    JFiles.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")
  private def mode(p: Path): Int = mode(new java.io.File(p.toUri).toPath)
  private def tmp(): Path =
    new Path(JFiles.createTempDirectory("graft_localfs").toUri)

  test("the nio filesystems are the ones wired for file://") {
    assert(nioFc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(stockFc.getDefaultFileSystem.getClass.getName ==
      "org.apache.hadoop.fs.local.LocalFs")
    val hc = TestSpark.spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, hc).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, hc).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  test("create, FileContext.create and mkdirs leave the stock modes and .crc files") {
    for ((side, (fs, fc)) <- sides) {
      val d = tmp()
      val f = new Path(d, "a.bin")
      val out = fs.create(f); out.write(Array[Byte](1, 2, 3)); out.close()
      val g = new Path(d, "sub/b.bin")
      val out2 = fc.create(g, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        Options.CreateOpts.createParent())
      out2.write(Array[Byte](4)); out2.close()
      val m = new Path(d, "m/n")
      assert(fs.mkdirs(m))
      assert(mode(f) == oct("644"), side)
      assert(mode(g) == oct("644"), side)
      assert(mode(m) == oct("755"), side)
      assert(mode(new Path(d, "m")) == oct("755"), side)
      assert(mode(new Path(d, "sub")) == oct("755"), side)
      assert(fs.exists(new Path(d, ".a.bin.crc")), side)
      assert(fs.exists(new Path(d, "sub/.b.bin.crc")), side)
      assert(fs.open(f).readAllBytes().toSeq == Seq[Byte](1, 2, 3), side)
    }
  }

  test("setPermission sets 0600 and keeps the sticky bit of 01777") {
    for ((side, (fs, _)) <- sides) {
      val d = tmp()
      val f = new Path(d, "a")
      fs.create(f).close()
      fs.setPermission(f, new FsPermission(oct("600").toShort))
      assert(mode(f) == oct("600"), side)
      val sticky = new Path(d, "shared")
      assert(fs.mkdirs(sticky))
      fs.setPermission(sticky, new FsPermission(oct("1777").toShort))
      assert(mode(sticky) == oct("1777"), side)
      assert(fs.getFileStatus(sticky).getPermission.getStickyBit, side)
    }
  }

  test("getFileLinkStatus matches the stock answer on files, links and dangling links") {
    val d = tmp()
    val dir = new java.io.File(d.toUri).toPath
    val file = JFiles.write(dir.resolve("plain"), Array[Byte](7, 7))
    val link = JFiles.createSymbolicLink(dir.resolve("link"), file)
    val dangling = JFiles.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val stockRaw = init(new RawLocalFileSystem)
    val nioRaw = init(new NioRawLocalFileSystem)
    // a status as a comparable tuple, or the exception class it threw
    def view(fs: FileSystem, p: Path) = scala.util.Try {
      val st = fs.getFileLinkStatus(p)
      (st.isFile, st.isDirectory, st.isSymlink, st.getLen, st.getPath,
        if (st.isSymlink) Some(st.getSymlink) else None)
    }.toEither.left.map(_.getClass)
    // qualified (file:/...) and bare paths: the stock deprecated path
    // runs `readlink` on the path string, which only finds a bare
    // path's link — a qualified link path gets its target's status
    val paths = for {
      p <- Seq(file, link, dangling, dir, dir.resolve("missing"))
      q <- Seq(new Path(p.toUri), new Path(p.toString))
    } yield q
    for (p <- paths) assert(view(nioRaw, p) == view(stockRaw, p), p)
    assert(view(nioRaw, new Path(file.toString)).map(_._3) == Right(false))
    assert(view(nioRaw, new Path(link.toString)).map(v => (v._3, v._6)) ==
      Right((true, Some(new Path(file.toUri)))))
    assert(view(nioRaw, new Path(dangling.toString)).map(_._3) == Right(true))
    assert(view(nioRaw, new Path(link.toUri)).map(_._3) == Right(false))
    assert(view(nioRaw, new Path(dangling.toUri)) ==
      Left(classOf[java.io.FileNotFoundException]))
  }

  test("FileContext.rename without OVERWRITE still refuses an existing target") {
    for ((side, (fs, fc)) <- sides) {
      val d = tmp()
      val src = new Path(d, "src")
      val dst = new Path(d, "dst")
      fs.create(src).close()
      fs.create(dst).close()
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      assert(fs.exists(src) && fs.exists(dst), side)
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fs.exists(src) && fs.exists(dst), side)
    }
  }

  test("a q_stream_window drain starts no chmod or readlink process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val spark = TestSpark.spark
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try graft.operators.StreamingGate.queries("q_stream_window")(spark, TestSpark.sf).collect()
    finally rec.stop()
    val dump = JFiles.createTempFile("graft_drain", ".jfr")
    rec.dump(dump)
    rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala
      .map(_.getString("command")).toSeq
    JFiles.delete(dump)
    val forks = commands.filter { c =>
      val exe = c.trim.split("\\s+").head
      Set("chmod", "readlink").contains(exe.substring(exe.lastIndexOf('/') + 1))
    }
    assert(forks.isEmpty, s"${forks.size} chmod/readlink forks, e.g. ${forks.take(3)}")
  }
}
