package graft.nats

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, ProcessStarts}

/** The file manager of local checkpoints: Spark's default manager over
  * graft's fork-free local filesystem. Its atomic-write contract, that a
  * trigger writing its checkpoint starts no OS process, and that a
  * checkpoint without `.crc` side files restarts exactly once.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(2)

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private def withTempDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("ckpt-fm")
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def manager(dir: JPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), spark.sessionState.newHadoopConf())

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** The directory's file names, without the `.crc` side files the manager writes. */
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSet

  test("createAtomic without overwrite onto an existing file fails and keeps the old bytes") {
    withTempDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "0")
      write(fm, p, "old", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
      assert(read(fm, p) === "old")
      // Spark's manager leaves the losing writer's hidden temp file, as on HDFS.
      assert(names(dir).filterNot(_.startsWith(".")) === Set("0"))
    }
  }

  test("createAtomic with overwrite replaces the file") {
    withTempDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "0")
      write(fm, p, "old", overwrite = false)
      write(fm, p, "new", overwrite = true)
      assert(read(fm, p) === "new")
      assert(names(dir) === Set("0"))
    }
  }

  test("nothing is visible under the final name before close; cancel publishes nothing and leaves no temp file") {
    withTempDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "1")
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.hflush()
      assert(!fm.exists(p))
      assert(!Files.exists(dir.resolve("1")))
      out.cancel()
      out.close()
      assert(!fm.exists(p))
      assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
    }
  }

  test("a trigger that writes its offset WAL and commit log starts no OS process") {
    val url = "memory://ckpt-fm-" + UUID.randomUUID()
    val conn = NatsTransport.connect(url)
    withTempDir { ckpt =>
      val q = spark.readStream.format("nats").schema(schema)
        .option("url", url).option("subject", "ev").option("batchSize", "1")
        .load()
        .writeStream.format("memory").queryName("ckpt_no_fork")
        .option("checkpointLocation", ckpt.toString).start()
      def deliver(id: Int): Unit = {
        conn.publish("ev", s"$id,row$id".getBytes(UTF_8))
        val deadline = System.currentTimeMillis() + 20000
        while (spark.table("ckpt_no_fork").count() < id && System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          Thread.sleep(20)
        }
        assert(spark.table("ckpt_no_fork").count() === id)
      }
      try {
        NatsDemo.awaitSubscriber(url, "ev")
        deliver(1) // the first trigger also writes the checkpoint's metadata
        val forks = ProcessStarts.during {
          val batchBefore = q.lastProgress.batchId
          (2 to 4).foreach(deliver)
          assert(q.lastProgress.batchId - batchBefore >= 3, "at least 3 data triggers ran")
        }
        assert(forks.size === 0,
          ProcessStarts.describe(forks).mkString("process starts during the triggers:\n", "\n", ""))
      } finally {
        q.stop()
        conn.close()
      }
    }
  }

  test("a checkpoint without .crc side files restarts with the downtime rows exactly once") {
    val url = s"memory://ckpt-fm-${UUID.randomUUID()}?retain=100"
    val conn = NatsTransport.connect(url)
    withTempDir { base =>
      val ckpt = base.resolve("ckpt").toString
      val out = base.resolve("out").toString
      def startQuery() =
        spark.readStream.format("nats").schema(schema)
          .option("url", url).option("subject", "ev")
          .option("batchSize", "2").option("flushTimeoutMs", "50")
          .option("replay", "true").option("startSequence", "0")
          .load()
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).start()
      def sunkIds(): Seq[Int] =
        spark.read.schema(schema).parquet(out).collect().map(_.getInt(0)).toSeq.sorted
      def drain(q: org.apache.spark.sql.streaming.StreamingQuery, n: Int): Unit = {
        val deadline = System.currentTimeMillis() + 20000
        while (sunkIds().size < n && System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          Thread.sleep(50)
        }
      }
      try {
        (1 to 3).foreach(i => conn.publish("ev", s"$i,row$i".getBytes(UTF_8)))
        val q1 = startQuery()
        drain(q1, 3)
        q1.stop()
        assert(sunkIds() === Seq(1, 2, 3))
        // A checkpoint and sink log written without checksums, as a plain
        // java.nio writer leaves them, must restart as well.
        val crcs = Seq(base.resolve("ckpt"), base.resolve("out").resolve("_spark_metadata"))
          .flatMap(Files.walk(_).iterator().asScala.filter(_.getFileName.toString.endsWith(".crc")).toSeq)
        assert(crcs.nonEmpty, "Spark's manager writes checksums")
        crcs.foreach(Files.delete)

        (4 to 7).foreach(i => conn.publish("ev", s"$i,row$i".getBytes(UTF_8)))
        val q2 = startQuery()
        drain(q2, 7)
        q2.stop()
        assert(sunkIds() === (1 to 7), "downtime rows arrive exactly once after the restart")
      } finally conn.close()
    }
  }
}
