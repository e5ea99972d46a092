package graft.nats

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.UUID
import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The checkpoint file manager graft ships as the default for local
  * checkpoints: how sessions pick it up, its atomic-write contract, that
  * a trigger writing its checkpoint starts no OS process, and that a
  * checkpoint written by Spark's default manager restarts under it.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(2)

  override def afterAll(): Unit = spark.stop()

  private val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private def withTempDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("ckpt-fm")
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def manager(dir: JPath, session: SparkSession = spark): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), session.sessionState.newHadoopConf())

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a plain session resolves local checkpoints to graft's manager") {
    withTempDir(dir => assert(manager(dir).isInstanceOf[LocalCheckpointFileManager]))
  }

  test("an explicit session setting of the manager key still wins") {
    val session = spark.newSession()
    session.conf.set(ConfKey, classOf[FileContextBasedCheckpointFileManager].getName)
    withTempDir(dir => assert(manager(dir, session).isInstanceOf[FileContextBasedCheckpointFileManager]))
  }

  test("createAtomic without overwrite onto an existing file fails and keeps the old bytes") {
    withTempDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "0")
      write(fm, p, "old", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
      assert(read(fm, p) === "old")
      assert(names(dir) === Set("0"), "the losing writer's temp file is removed")
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

  test("a file rewritten over a stale .crc from Spark's default manager reads back its new content") {
    withTempDir { dir =>
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(dir.toUri)
      val p = new Path(root, "1.delta")
      write(new FileContextBasedCheckpointFileManager(root, conf), p, "written by the default manager", overwrite = true)
      assert(names(dir).contains(".1.delta.crc"), "the default manager writes checksums")
      val fm = new LocalCheckpointFileManager(root, conf)
      assert(read(fm, p) === "written by the default manager", "checksummed files still read")
      write(fm, p, "rewritten", overwrite = true)
      assert(read(fm, p) === "rewritten")
      assert(fm.list(root).map(_.getPath.getName).toSeq === Seq("1.delta"), ".crc files stay hidden")
      fm.delete(p)
      assert(names(dir).isEmpty)
    }
  }

  test("a trigger that writes its offset WAL and commit log starts no OS process") {
    import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
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
      val starts = new CopyOnWriteArrayList[RecordedEvent]()
      val rs = new RecordingStream()
      try {
        NatsDemo.awaitSubscriber(url, "ev")
        deliver(1) // the first trigger also writes the checkpoint's metadata
        rs.enable("jdk.ProcessStart").withStackTrace()
        rs.onEvent("jdk.ProcessStart", e => starts.add(e))
        rs.startAsync()
        val batchBefore = q.lastProgress.batchId
        (2 to 4).foreach(deliver)
        assert(q.lastProgress.batchId - batchBefore >= 3, "at least 3 data triggers ran")
        // A process started after the triggers proves the recording sees
        // process starts: once it arrives, every earlier one has too.
        val sentinel = new ProcessBuilder("true").start()
        sentinel.waitFor()
        val deadline = System.currentTimeMillis() + 30000
        def sawSentinel = starts.asScala.exists(_.getLong("pid") == sentinel.pid())
        while (!sawSentinel && System.currentTimeMillis() < deadline) Thread.sleep(50)
        assert(sawSentinel, "the recording never saw the sentinel process start")
        val forks = starts.asScala.filterNot(_.getLong("pid") == sentinel.pid())
        assert(forks.size === 0, forks.map { e =>
          val top = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.take(12))
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          s"${e.getString("command")} <- ${top.mkString(" <- ")}"
        }.mkString("process starts during the triggers:\n", "\n", ""))
      } finally {
        rs.close()
        q.stop()
        conn.close()
      }
    }
  }

  test("a checkpoint written by Spark's default manager restarts exactly once under graft's manager") {
    val url = s"memory://ckpt-fm-${UUID.randomUUID()}?retain=100"
    val conn = NatsTransport.connect(url)
    withTempDir { base =>
      val ckpt = base.resolve("ckpt").toString
      val out = base.resolve("out").toString
      def startQuery(session: SparkSession) =
        session.readStream.format("nats").schema(schema)
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
        val old = spark.newSession()
        old.conf.set(ConfKey, classOf[FileContextBasedCheckpointFileManager].getName)
        val q1 = startQuery(old)
        drain(q1, 3)
        q1.stop()
        assert(sunkIds() === Seq(1, 2, 3))
        val crcs = Files.walk(base.resolve("ckpt")).iterator().asScala
          .count(_.getFileName.toString.endsWith(".crc"))
        assert(crcs > 0, "the first run's checkpoint was written by the default manager")

        (4 to 7).foreach(i => conn.publish("ev", s"$i,row$i".getBytes(UTF_8)))
        val q2 = startQuery(spark)
        drain(q2, 7)
        q2.stop()
        assert(sunkIds() === (1 to 7), "downtime rows arrive exactly once after the restart")
      } finally conn.close()
    }
  }
}
