package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** graft's fork-free local filesystem: every session resolves `file:` to
  * it, it sets the permissions and reports the links Hadoop's own does,
  * and a parquet write through it starts no OS process.
  */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(2)

  override def afterAll(): Unit = spark.stop()

  private val root = URI.create("file:///")

  private def withTempDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("local-fs")
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  /** Hadoop's stock raw filesystem and graft's, both on `conf`. */
  private def stockAndGraft(conf: Configuration): Seq[RawLocalFileSystem] =
    Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem).map { fs => fs.initialize(root, conf); fs }

  test("a plain session resolves file: to graft's filesystem and checkpoints to Spark's default manager") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(root, conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRawFileSystem.isInstanceOf[ForkFreeRawLocalFileSystem])
    FileContext.getFileContext(root, conf).getDefaultFileSystem match {
      case afs: ForkFreeLocalFs => assert(afs.getRawFs.isInstanceOf[ForkFreeRawLocalFs])
      case other => fail(s"FileContext resolved file: to ${other.getClass.getName}")
    }
    withTempDir { dir =>
      assert(CheckpointFileManager.create(new Path(dir.toUri), conf).isInstanceOf[FileContextBasedCheckpointFileManager])
    }
  }

  test("mkdirs, create and setPermission leave the permissions Hadoop's RawLocalFileSystem leaves") {
    for (umask <- Seq(None, Some("077"))) withTempDir { dir =>
      val conf = spark.sessionState.newHadoopConf()
      umask.foreach(conf.set(FsPermission.UMASK_LABEL, _))
      var n = 0
      def same(what: String, op: (RawLocalFileSystem, Path) => Unit): Unit = {
        val Seq(stock, graft) = stockAndGraft(conf).map { fs =>
          n += 1
          val p = new Path(dir.resolve(n.toString).toString)
          op(fs, p)
          fs.getFileStatus(p).getPermission
        }
        assert(graft === stock, s"$what under umask ${umask.getOrElse("of the session")}")
      }
      for (octal <- Seq("700", "755", "750")) {
        same(s"mkdirs $octal", (fs, p) => assert(fs.mkdirs(p, new FsPermission(octal))))
        same(s"setPermission $octal on a directory", { (fs, p) =>
          fs.mkdirs(p)
          fs.setPermission(p, new FsPermission(octal))
        })
      }
      for (octal <- Seq("644", "600", "640")) {
        same(s"create $octal", (fs, p) =>
          fs.create(p, new FsPermission(octal), false, 4096, 1.toShort, 1L << 20, null).close())
        same(s"setPermission $octal on a file", { (fs, p) =>
          fs.create(p).close()
          fs.setPermission(p, new FsPermission(octal))
        })
      }
      same("setPermission 1777 (sticky) on a directory", { (fs, p) =>
        fs.mkdirs(p)
        fs.setPermission(p, new FsPermission("1777"))
      })
    }
  }

  test("getFileLinkStatus reports a real symlink and its target as Hadoop's RawLocalFileSystem does") {
    withTempDir { dir =>
      val target = Files.write(dir.resolve("target"), "bytes".getBytes)
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      val Seq(stock, graft) = stockAndGraft(spark.sessionState.newHadoopConf())
        .map(fs => (fs.getFileLinkStatus(new Path(link.toString)), fs.getFileLinkStatus(new Path(target.toString))))
      assert(graft._1.isSymlink)
      assert(graft._1.getSymlink === stock._1.getSymlink)
      assert(graft._1.getSymlink.toUri.getPath === target.toString)
      assert(!graft._2.isSymlink && !stock._2.isSymlink)
      assert(graft._2.getLen === stock._2.getLen)
      assert(graft._2.isFile && stock._2.isFile)
    }
  }

  test("an 8-partition parquet write through FileOutputCommitter starts no OS process") {
    withTempDir { dir =>
      val df = spark.range(0, 8000, 1, 8).toDF("id")
      df.write.parquet(dir.resolve("warm").toString) // one-time set-up stays out of the count
      val out = dir.resolve("out").toString
      val forks = ProcessStarts.during(df.write.parquet(out))
      assert(spark.read.parquet(out).count() === 8000)
      assert(forks.size === 0,
        ProcessStarts.describe(forks).mkString("process starts during the write:\n", "\n", ""))
    }
  }
}
