package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.{CreateFlag, FileContext, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

/** [[LocalFs]] is the session's `file:` filesystem, and what it creates
  * carries the permission bits Hadoop's stock raw local FS gives it.
  */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("the session's file: filesystem, for FileSystem and FileContext, is LocalFs") {
    assert(new Path("file:///tmp").getFileSystem(conf).isInstanceOf[LocalFs])
    assert(FileContext.getFileContext(new URI("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[LocalFs.Fc])
  }

  test("a created file and directory carry the stock raw FS's permission bits") {
    val base = new Path(new java.io.File(tmpDir("localfs")).toURI)
    val stock = new RawLocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    val fs = base.getFileSystem(conf)
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    def made(name: String)(create: Path => Unit): String = {
      val p = new Path(base, name); create(p); mode(p)
    }
    val (stockFile, stockDir) = (made("stock.bin")(stock.create(_).close()),
      made("stock/a/b")(stock.mkdirs(_)))
    assert(made("fs.bin")(fs.create(_).close()) == stockFile)
    assert(made("fs/a/b")(fs.mkdirs(_)) == stockDir)
    assert(made("fc.bin")(fc.create(_, java.util.EnumSet.of(CreateFlag.CREATE)).close())
      == stockFile)
    assert(made("fc/a/b")(fc.mkdir(_, FsPermission.getDirDefault, true)) == stockDir)
    // explicit modes, sticky bit (the stock fallback) included
    for (bits <- Seq(0x1e8 /* 0750 */, 0x124 /* 0444 */, 0x3ff /* 01777 */)) {
      val (a, b) = (new Path(base, s"s$bits"), new Path(base, s"l$bits"))
      stock.mkdirs(a); fs.mkdirs(b)
      stock.setPermission(a, new FsPermission(bits.toShort))
      fs.setPermission(b, new FsPermission(bits.toShort))
      assert(mode(b) == mode(a) &&
        fs.getFileStatus(b).getPermission == stock.getFileStatus(a).getPermission,
        f"mode 0$bits%o")
    }
  }
}
