package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Measurement harness: time one query end-to-end (build + noop
  * materialize, the Bench methodology) and break the wall clock down per
  * Spark job and per stage, so the expensive leg of a multi-leg harness
  * entry is identified by measurement instead of guessing. Bench and
  * Verify never run it.
  *
  * Usage: sbt "runMain graft.Probe <name> [repeats]"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val repeats = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    final case class JobRow(id: Int, t0: Long, var t1: Long = 0L,
        var stages: Int = 0, var tasks: Int = 0, var desc: String = "")
    val jobs = mutable.LinkedHashMap[Int, JobRow]()
    val stageTimes = mutable.LinkedHashMap[Int, (String, Long, Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(e.jobId) = JobRow(e.jobId, e.time, desc = d)
        jobs(e.jobId).stages = e.stageIds.size
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          stageTimes(si.stageId) = (si.name.take(90),
            si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
            si.numTasks.toLong,
            si.taskMetrics.executorRunTime)
        }
    }

    val build = graft.queries.Registry.all.find(_.name == name)
      .getOrElse(sys.error(s"no such query: $name")).build
    // warm-up (artifact builds, codegen caches)
    build(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    var best = Double.MaxValue
    for (i <- 1 to repeats) {
      if (i == repeats) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      build(spark, sfDir).write.format("noop").mode("overwrite").save()
      val el = (System.nanoTime() - t0) / 1e9
      best = math.min(best, el)
      println(f"[probe] $name run $i: $el%.3f s")
      if (i < repeats) spark.catalog.clearCache()
    }
    Thread.sleep(500) // let the listener bus drain the last events
    println(f"[probe] $name best: $best%.3f s over $repeats runs")
    println("[probe] jobs (last run):")
    jobs.values.foreach { j =>
      println(f"  job ${j.id}%3d  ${(j.t1 - j.t0) / 1e3}%7.3f s  stages=${j.stages}%3d  ${j.desc.take(60)}")
    }
    println("[probe] slowest stages (last run):")
    stageTimes.toSeq.sortBy(-_._2._2).take(25).foreach {
      case (id, (nm, wall, tasks, run)) =>
        println(f"  stage $id%4d  wall=${wall / 1e3}%7.3f s  tasks=$tasks%4d  execRun=${run / 1e3}%8.3f s  $nm")
    }
    spark.stop()
  }
}
