package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[ForkFreeLocalFs]] behaves as Hadoop's own local filesystem: the same
  * permissions on what it creates, the same link status, the same
  * missing-path error — compared side by side, on both the `FileContext`
  * layer Spark's checkpoints use and the raw `FileSystem` layer.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite with Matchers {

  private val conf = new Configuration()
  private val root = URI.create("file:///")

  private def contexts: Seq[(String, FileContext)] = Seq(
    "hadoop" -> AbstractFileSystem.get(root, conf),
    "graft" -> new ForkFreeLocalFs(root, conf)
  ).map { case (n, fs) => n -> FileContext.getFileContext(fs, conf) }

  private def rawFileSystems: Seq[(String, FileSystem)] =
    Seq("hadoop" -> new RawLocalFileSystem, "graft" -> new ForkFreeRawLocalFileSystem)
      .map { case (n, fs) => fs.initialize(root, conf); n -> fs }

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def fields(s: FileStatus) = (s.getPath, s.isSymlink,
    if (s.isSymlink) Some(s.getSymlink) else None, s.isDirectory, s.getLen,
    s.getModificationTime)

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("forkfree-fs")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("the contract's conf resolves file: to the fork-free filesystem") {
    AbstractFileSystem.get(root, conf) shouldBe a[LocalFs] // Hadoop's default
    val c = new Configuration(conf)
    c.set(GraftSession.LocalFsConf, classOf[ForkFreeLocalFs].getName)
    AbstractFileSystem.get(root, c) shouldBe a[ForkFreeLocalFs]
  }

  test("create and mkdir leave the permissions Hadoop's local filesystem leaves") {
    withDir { dir =>
      val cases = Seq[Option[String]](None, Some("600"), Some("700"))
      val byImpl = contexts.map { case (impl, fc) =>
        impl -> cases.map { mode =>
          val tag = s"$impl-${mode.getOrElse("default")}"
          val file = new Path(dir.toUri.toString, s"f-$tag")
          val sub = new Path(dir.toUri.toString, s"d-$tag")
          val perm = mode.map(m => new FsPermission(m))
            .getOrElse(FsPermission.getFileDefault)
          val out = mode.fold(fc.create(file, EnumSet.of(CreateFlag.CREATE)))(_ =>
            fc.create(file, EnumSet.of(CreateFlag.CREATE),
              Options.CreateOpts.perms(perm)))
          out.write(1)
          out.close()
          fc.mkdir(sub, mode.map(_ => perm).getOrElse(FsPermission.getDirDefault),
            true)
          // the checkpoint manager's atomic publish: rename over a target
          val renamed = new Path(dir.toUri.toString, s"r-$tag")
          fc.rename(file, renamed, Options.Rename.OVERWRITE)
          (perms(dir.resolve(s"r-$tag")), perms(dir.resolve(s"d-$tag")),
            Files.exists(dir.resolve(s".r-$tag.crc")))
        }
      }.toMap
      byImpl("graft") shouldBe byImpl("hadoop")
      byImpl("graft").map(_._3).distinct shouldBe Seq(true)
    }
    // the raw layer, with explicit modes
    withDir { dir =>
      val byImpl = rawFileSystems.map { case (impl, fs) =>
        impl -> Seq("600", "700").map { m =>
          val file = new Path(dir.resolve(s"f-$impl-$m").toString)
          val sub = new Path(dir.resolve(s"d-$impl-$m").toString)
          fs.create(file, new FsPermission(m), false, 4096, 1.toShort,
            1L << 20, null).close()
          fs.mkdirs(sub, new FsPermission(m))
          (perms(dir.resolve(s"f-$impl-$m")), perms(dir.resolve(s"d-$impl-$m")))
        }
      }.toMap
      byImpl("graft") shouldBe byImpl("hadoop")
      byImpl("graft") shouldBe Seq(("rw-------", "rw-------"),
        ("rwx------", "rwx------"))
    }
  }

  test("link status of a symlink, a file and a missing path matches Hadoop's") {
    withDir { dir =>
      val target = Files.write(dir.resolve("target"), Array[Byte](1, 2, 3))
      Files.createSymbolicLink(dir.resolve("link"), target)
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      val names = Seq("link", "dangling", "target")
      def status(get: Path => FileStatus, p: Path) =
        try Right(fields(get(p))) catch { case e: Exception => Left(e.getClass) }
      val raw = rawFileSystems.map { case (impl, fs) =>
        impl -> names.flatMap { n =>
          // plain and file:-qualified forms of the same path
          Seq(new Path(dir.resolve(n).toString), new Path(dir.resolve(n).toUri))
            .map(status(fs.getFileLinkStatus, _))
        }
      }.toMap
      raw("graft") shouldBe raw("hadoop")
      raw("graft").head.map(_._2) shouldBe Right(true) // a symlink it is
      val ctx = contexts.map { case (impl, fc) =>
        impl -> names.map(n =>
          status(fc.getFileLinkStatus, new Path(dir.resolve(n).toUri)))
      }.toMap
      ctx("graft") shouldBe ctx("hadoop")
    }
  }

  test("a missing path throws FileNotFoundException on both layers") {
    withDir { dir =>
      val missing = new Path(dir.resolve("missing").toUri)
      rawFileSystems.foreach { case (impl, fs) =>
        withClue(s"$impl raw: ") {
          a[FileNotFoundException] should be thrownBy fs.getFileLinkStatus(missing)
          a[FileNotFoundException] should be thrownBy fs.getFileStatus(missing)
        }
      }
      contexts.foreach { case (impl, fc) =>
        withClue(s"$impl context: ") {
          a[FileNotFoundException] should be thrownBy fc.getFileLinkStatus(missing)
          a[FileNotFoundException] should be thrownBy fc.getFileStatus(missing)
        }
      }
    }
  }
}
