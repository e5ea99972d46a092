package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Optimization-round helper (round 21, guide §1.2/§7.2): dump
  * `.explain("formatted")` for every benched registry query to one file
  * per query, plus a one-line-per-query summary of plan-shape counters
  * (Exchange / join strategies / scans). Measurement aid only — never
  * run by the driver.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.PlanDump <outDir> [q1,q2]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r21")
    val only = args.drop(1).headOption.map(_.split(",").toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Mirror Bench's session configs exactly — a dump under different
      // AQE behavior shows a different plan.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val defs = graft.queries.Registry.all.filter(_.bench)
      .filter(d => only.forall(_(d.name))).sortBy(_.name)
    val markers = Seq("Exchange", "SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
      "Window", "WindowGroupLimit", "Scan parquet", "InMemoryTableScan")
    val summary = new StringBuilder
    defs.foreach { d =>
      try {
        val df = d.build(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(outDir, s"${d.name}.txt"), txt)
        val counts = markers.map(m => s"$m=${m.r.findAllIn(txt).length}")
        summary.append(s"${d.name}\t${counts.mkString(" ")}\n")
      } catch {
        case e: Throwable =>
          summary.append(s"${d.name}\tERROR ${e.getMessage}\n")
      }
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(outDir, "_summary.tsv"), summary.toString)
    println(s"[plandump] wrote ${defs.size} plans to $outDir")
    spark.stop()
  }
}
