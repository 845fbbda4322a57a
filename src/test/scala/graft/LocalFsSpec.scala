package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free local file systems against stock Hadoop on the same calls. */
class LocalFsSpec extends SparkSpec {
  private val conf = new Configuration()
  private val local = URI.create("file:///")

  /** Stock `LocalFileSystem` / `LocalFs`, then the NIO ones; neither cached. */
  private def stockAndNio: Seq[(FileSystem, FileContext)] = {
    val stock = new LocalFileSystem()
    val nio = new NioLocalFileSystem
    Seq(stock, nio).foreach(_.initialize(local, conf))
    Seq(stock -> FileContext.getFileContext(local, conf),
      nio -> FileContext.getFileContext(new NioLocalFs(local, conf), conf))
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** Permission bits (sticky included) of everything under `root`. */
  private def modes(root: String): Map[String, Int] = {
    val r = Paths.get(root)
    Files.walk(r).iterator.asScala.filter(_ != r)
      .map(p => r.relativize(p).toString -> mode(p)).toMap
  }

  test("mkdirs, create, setPermission and FileContext create + rename write " +
      "the modes stock Hadoop writes, .crc files included") {
    val trees = for ((fs, fc) <- stockAndNio) yield {
      val root = tempDir("graft-localfs")
      fs.mkdirs(new Path(root, "a/b"))
      fs.mkdirs(new Path(root, "m750"), perm("750"))
      fs.create(new Path(root, "a/b/f")).close()
      fc.mkdir(new Path(root, "c/d"), FsPermission.getDirDefault, true)
      for (_ <- 1 to 2) { // the second rename overwrites the first one's target
        val out = fc.create(new Path(root, "c/d/tmp"), java.util.EnumSet.of(CreateFlag.CREATE))
        out.write(Array.fill[Byte](150)(1))
        out.close()
        fc.rename(new Path(root, "c/d/tmp"), new Path(root, "c/d/1"), Options.Rename.OVERWRITE)
      }
      for (m <- Seq("400", "640", "751", "777")) {
        fs.create(new Path(root, s"p$m")).close()
        fs.setPermission(new Path(root, s"p$m"), perm(m))
      }
      modes(root)
    }
    val Seq(stock, nio) = trees
    assert(Seq("a/b/.f.crc", "c/d/1", "c/d/.1.crc", "m750", "p751").forall(stock.contains))
    assert(stock("m750") == Integer.parseInt("750", 8))
    assert(nio == stock)
  }

  test("getFileLinkStatus: links keep the stock status and qualified " +
      "target; a missing path throws FileNotFoundException") {
    val root = tempDir("graft-localfs")
    Files.createFile(Paths.get(root, "target"))
    Files.createSymbolicLink(Paths.get(root, "link"), Paths.get(root, "target"))
    Files.createSymbolicLink(Paths.get(root, "dangling"), Paths.get(root, "gone"))
    def view(status: => FileStatus): Any =
      try {
        val s = status
        (s.getPath, s.isSymlink, s.isFile, s.getLen, if (s.isSymlink) s.getSymlink else null)
      } catch { case e: FileNotFoundException => e.getClass }
    val Seq(stock, nio) = for ((fs, fc) <- stockAndNio) yield {
      for (name <- Seq("missing", "missing/x"); p = new Path(root, name)) {
        intercept[FileNotFoundException](fs.getFileLinkStatus(p))
        intercept[FileNotFoundException](fc.getFileLinkStatus(p))
      }
      // Spark passes scheme-qualified paths, for which stock Hadoop's
      // readlink of `file:/...` finds no link
      for (name <- Seq("target", "link", "dangling");
           p <- Seq(new Path(root, name), new Path(s"file:$root/$name")))
        yield (view(fs.getFileLinkStatus(p)), view(fc.getFileLinkStatus(p)))
    }
    assert(nio == stock)
    val (linkFs, linkFc) = stock(2)
    assert(linkFs == linkFc)
    assert(linkFs == ((new Path(root, "link"), true, false, 0L, new Path(s"file:$root/target"))))
  }

  test("a sticky-bit permission still applies, through the stock chmod") {
    val dir = new Path(tempDir("graft-localfs"), "shared")
    val (nio, _) = stockAndNio(1)
    nio.mkdirs(dir)
    nio.setPermission(dir, perm("1777"))
    assert(mode(Paths.get(dir.toUri.getPath)) == Integer.parseInt("1777", 8))
  }

  test("a GraftSession resolves file: URIs to the NIO file systems") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(local, hadoopConf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(hadoopConf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }
}
