package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

import graft.streaming.{CdcStream, NioLocalFileSystem}

/** The CDC sink's fork-free local filesystem: same permission bits as
  * the stock `file:` filesystem, the stock call for what NIO cannot set,
  * and a scope limited to the sink's own conf. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
  /** The full mode, sticky bit included (NIO's permission set drops it). */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def hPath(p: JPath) = new Path(p.toUri)

  private lazy val stock = new Path("file:///").getFileSystem(new Configuration())
  private lazy val nio = {
    val f = new NioLocalFileSystem
    f.initialize(URI.create("file:///"), new Configuration())
    f
  }

  test("NIO setPermission leaves the bits the stock local filesystem leaves") {
    // on this classpath `file:` resolves to hive's ProxyLocalFileSystem
    // (a service-loader registration), which the sink used before
    assert(!stock.isInstanceOf[NioLocalFileSystem], stock.getClass.getName)
    val dir = Files.createTempDirectory("graft-nio-perm")
    Seq("755", "644", "700", "600").foreach { m =>
      Seq("file" -> ((p: JPath) => Files.createFile(p)),
          "dir" -> ((p: JPath) => Files.createDirectory(p))).foreach { case (kind, make) =>
        val a = make(dir.resolve(s"stock-$kind-$m"))
        val b = make(dir.resolve(s"nio-$kind-$m"))
        stock.setPermission(hPath(a), octal(m))
        nio.setPermission(hPath(b), octal(m))
        assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a), s"$kind $m")
        assert(mode(b) == mode(a) && mode(b) == Integer.parseInt(m, 8), s"$kind $m")
      }
    }
    // files and directories the filesystems create themselves (umask
    // applied, .crc sibling included) come out identical too
    Seq("stock" -> stock, "nio" -> nio).foreach { case (n, f) =>
      f.mkdirs(hPath(dir.resolve(s"mk-$n/sub")))
      f.create(hPath(dir.resolve(s"mk-$n/sub/part"))).close()
    }
    Seq("mk-%s", "mk-%s/sub", "mk-%s/sub/part", "mk-%s/sub/.part.crc").foreach { r =>
      assert(mode(dir.resolve(r.format("nio"))) == mode(dir.resolve(r.format("stock"))), r)
    }
  }

  test("a sticky-bit permission takes the stock chmod") {
    val sticky = octal("1777")
    assert(NioLocalFileSystem.posix(sticky).isEmpty)
    assert(NioLocalFileSystem.posix(octal("755")).exists(_.size == 7))
    val d = Files.createTempDirectory("graft-nio-sticky")
    nio.setPermission(hPath(d), sticky)
    // only the stock path can have set bit 01000
    assert(mode(d) == Integer.parseInt("1777", 8), f"${mode(d)}%o")
  }

  test("the sink's conf changes only fs.file.* keys; the session's file: stays stock") {
    assert(NioLocalFileSystem.Conf.keys.forall(_.startsWith("fs.file.")))
    val session = spark.sparkContext.hadoopConfiguration
    val sink = CdcStream.sinkConf(spark)
    def entries(c: Configuration) =
      c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val (a, b) = (entries(session), entries(sink))
    val changed = (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))
    assert(changed.nonEmpty && changed.forall(_.startsWith("fs.file.")), changed)
    assert(new Path("/tmp").getFileSystem(sink).isInstanceOf[NioLocalFileSystem])
    assert(!new Path("/tmp").getFileSystem(session).isInstanceOf[NioLocalFileSystem])
  }
}
