package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** [[NioLocalFileSystem]] and [[NioLocalFs]] leave what the stock local
  * filesystems leave — the same modes, checksum files, link statuses and
  * rename results — and [[LocalFs.ensureInstalled]] leaves a user's own
  * choice of `file:` implementation alone. */
class LocalFsSpec extends SparkSpec {

  private val conf = new Configuration()
  private def fsOf(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private lazy val nio = fsOf(new NioLocalFileSystem)
  private lazy val stock = fsOf(new LocalFileSystem)
  private def both(name: String): Seq[(FileSystem, String)] = {
    val d = tmpDir(name)
    Seq(nio -> s"$d/nio", stock -> s"$d/stock")
  }
  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("mkdirs and create: default-umask modes and the .crc sibling match the stock filesystem") {
    val modes = both("localfs-modes").map { case (fs, d) =>
      assert(fs.mkdirs(new Path(s"$d/a/b")))
      val out = fs.create(new Path(s"$d/a/b/part-0.parquet"))
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      assert(Files.exists(Paths.get(s"$d/a/b/.part-0.parquet.crc")))
      Seq(d, s"$d/a", s"$d/a/b", s"$d/a/b/part-0.parquet",
        s"$d/a/b/.part-0.parquet.crc").map(mode)
    }
    assert(modes.head === modes(1))
    assert(modes.head === Seq.fill(3)("rwxr-xr-x") ++ Seq.fill(2)("rw-r--r--"))
  }

  test("mkdirs and create with explicit 0700/0600 match the stock filesystem") {
    val modes = both("localfs-explicit").map { case (fs, d) =>
      assert(fs.mkdirs(new Path(s"$d/private"), new FsPermission("700")))
      val out = fs.create(new Path(s"$d/private/f"), new FsPermission("600"),
        false, 4096, 1.toShort, 1L << 25, null)
      try out.write(Array[Byte](7)) finally out.close()
      Seq(s"$d/private", s"$d/private/f").map(mode)
    }
    assert(modes.head === modes(1))
    assert(modes.head === Seq("rwx------", "rw-------"))
  }

  test("getFileLinkStatus: a file, a symlink and a missing path as the stock filesystem reports them") {
    val d = tmpDir("localfs-links")
    val file = Paths.get(s"$d/f")
    Files.write(file, Array[Byte](1, 2))
    val link = Files.createSymbolicLink(Paths.get(s"$d/l"), file)
    // both path forms: the stock code only sees a link on a scheme-less one
    for (p <- Seq(file, link).flatMap(p => Seq(new Path(p.toUri), new Path(p.toString)))) {
      val (a, b) = (nio.getFileLinkStatus(p), stock.getFileLinkStatus(p))
      assert((a.getPath, a.isSymlink, a.isDirectory, a.getLen) ===
        ((b.getPath, b.isSymlink, b.isDirectory, b.getLen)))
      if (b.isSymlink) assert(a.getSymlink === b.getSymlink)
    }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(!nio.getFileLinkStatus(new Path(d)).isSymlink)
    val missing = new Path(s"$d/missing")
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("FileContext.rename(OVERWRITE) of a checkpoint temp file, as through the stock LocalFs") {
    val nioConf = new Configuration(conf)
    nioConf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    assert(AbstractFileSystem.get(URI.create("file:///"), nioConf).isInstanceOf[NioLocalFs])
    val listings = Seq(nioConf, conf).zip(Seq("nio", "stock")).map { case (c, name) =>
      val d = s"${tmpDir("localfs-rename")}/$name/offsets"
      val fc = FileContext.getFileContext(URI.create("file:///"), c)
      // the streaming checkpoint's log write: a hidden temp file renamed
      // over its batch's entry, the second time over an existing one
      for (body <- Seq("v1", "v2")) {
        val tmp = new Path(s"$d/.0.${java.util.UUID.randomUUID()}.tmp")
        val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(body.getBytes) finally out.close()
        fc.rename(tmp, new Path(s"$d/0"), Options.Rename.OVERWRITE)
      }
      assert(Files.readString(Paths.get(s"$d/0")) === "v2")
      (Files.list(Paths.get(d)).toArray.map(_.toString.split('/').last).sorted.toSeq,
        Seq(d, s"$d/0", s"$d/.0.crc").map(mode))
    }
    assert(listings.head === listings(1))
    assert(listings.head._1 === Seq(".0.crc", "0"))
  }

  test("ensureInstalled: installs once; a user-set fs.file.impl, in the session or the context, is left untouched") {
    val fresh = spark.newSession()
    LocalFs.ensureInstalled(fresh)
    LocalFs.ensureInstalled(fresh)
    assert(fresh.conf.get("fs.file.impl") === classOf[NioLocalFileSystem].getName)
    assert(fresh.conf.get("fs.AbstractFileSystem.file.impl") === classOf[NioLocalFs].getName)
    assert(fresh.conf.get("fs.file.impl.disable.cache") === "true")

    val user = spark.newSession()
    user.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    LocalFs.ensureInstalled(user)
    assert(user.conf.get("fs.file.impl") === classOf[LocalFileSystem].getName)
    assert(user.conf.getOption("fs.AbstractFileSystem.file.impl").isEmpty)
    assert(user.conf.getOption("fs.file.impl.disable.cache").isEmpty)

    val hadoop = spark.sparkContext.hadoopConfiguration
    hadoop.set("fs.file.impl", classOf[LocalFileSystem].getName)
    try {
      val viaContext = spark.newSession()
      LocalFs.ensureInstalled(viaContext)
      assert(viaContext.conf.getOption("fs.file.impl").isEmpty)
      assert(viaContext.conf.getOption("fs.AbstractFileSystem.file.impl").isEmpty)
    } finally hadoop.unset("fs.file.impl")
  }
}
