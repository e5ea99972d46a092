package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load`'s schema cache: a path's parquet schema is inferred by
  * its first load in a session, and a later load of the same unchanged
  * files under the same parquet settings reads with that schema instead
  * of running Spark's footer-inference job again.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("tables-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Mark = "graft.tablesspec.mark"

  /** Spark jobs started while `body` runs on this thread. Listener events
    * arrive asynchronously but in order, so a sentinel job run after
    * `body` bounds the wait: once its start is seen, so is every earlier
    * job's. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val counted = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Mark)).orNull match {
          case "probe"    => counted.incrementAndGet()
          case "sentinel" => sentinel.countDown()
          case _          =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Mark, "probe")
      val out = body
      sc.setLocalProperty(Mark, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(30, TimeUnit.SECONDS), "sentinel job never reached the listener")
      (out, counted.get())
    } finally {
      sc.setLocalProperty(Mark, null)
      sc.removeSparkListener(listener)
    }
  }

  private def tempDir(): String = Files.createTempDirectory("tables-spec").toString

  private def write(dir: String, name: String, sql: String): Unit =
    spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  test("a second load of an unchanged file starts no Spark job and reads the same schema and rows") {
    val dir = tempDir()
    write(dir, "t", "SELECT id, CAST(id * 2 AS STRING) AS s FROM range(20)")
    val (first, firstJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(firstJobs >= 1, "the first load infers the schema from the parquet footer")
    val (second, secondJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(secondJobs === 0, "a repeat load must reuse the inferred schema")
    assert(second.schema === first.schema)
    assert(second.collect().toSeq.sortBy(_.toString) === first.collect().toSeq.sortBy(_.toString))
  }

  test("a repeat load of the events fixture starts no job and keeps ts normalized") {
    val dir = "perfbench/data/sf0.01" // the bundled copy of the sf0.01 fixture
    val first = Tables.load(spark, dir, "events")
    val (second, jobs) = jobsDuring(Tables.load(spark, dir, "events"))
    assert(jobs === 0)
    assert(second.schema === first.schema)
    assert(second.orderBy("event_id").collect().toSeq === first.orderBy("event_id").collect().toSeq)
  }

  test("a file rewritten under the same path with different columns is inferred again") {
    val dir = tempDir()
    write(dir, "t", "SELECT id AS a, id + 1 AS b FROM range(5)")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a", "b"))
    write(dir, "t", "SELECT id AS a, CAST(id AS STRING) AS c, id * 10 AS d FROM range(3)")
    val (df, jobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(jobs >= 1, "a changed file signature must re-infer")
    assert(df.columns.toSeq === Seq("a", "c", "d"))
    assert(df.collect().toSeq.sortBy(_.getLong(0)) ===
      Seq(Row(0L, "0", 0L), Row(1L, "1", 10L), Row(2L, "2", 20L)))
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong in the same session infers again") {
    val dir = tempDir()
    write(dir, "t", "SELECT id FROM range(3)")
    Tables.load(spark, dir, "t")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.get(key)
    try {
      spark.conf.set(key, (!was.toBoolean).toString)
      val (_, jobs) = jobsDuring(Tables.load(spark, dir, "t"))
      assert(jobs >= 1, "a changed parquet-inference setting must re-infer")
      val (_, again) = jobsDuring(Tables.load(spark, dir, "t"))
      assert(again === 0, "the re-inferred schema is cached under the new setting")
    } finally spark.conf.set(key, was)
  }

  /** Loads `n` fresh paths in a new session, rewrites and reloads them,
    * and returns that session's entry count; the session itself is not
    * returned, so nothing outside the cache refers to it. */
  private def fillAndRewrite(n: Int): Int = {
    val session = spark.newSession()
    val dirs = (1 to n).map(_ => tempDir())
    dirs.foreach(d => write(d, "t", "SELECT id FROM range(4)"))
    dirs.foreach(d => Tables.load(session, d, "t"))
    assert(Tables.cachedSchemas(session) === n)
    dirs.foreach(d => write(d, "t", "SELECT id, id AS again FROM range(4)"))
    dirs.foreach(d => assert(Tables.load(session, d, "t").columns.toSeq === Seq("id", "again")))
    Tables.cachedSchemas(session)
  }

  test("entries stay one per path across rewrites, and a dropped session's entries are released") {
    val sessionsBefore = Tables.cachedSessions
    assert(fillAndRewrite(3) === 3, "a rewritten path replaces its entry")
    var released = false
    var tries = 0
    while (!released && tries < 50) {
      System.gc()
      Thread.sleep(20)
      released = Tables.cachedSessions <= sessionsBefore
      tries += 1
    }
    assert(released, s"the dropped session's entries are still held (${Tables.cachedSessions} sessions)")
  }
}
