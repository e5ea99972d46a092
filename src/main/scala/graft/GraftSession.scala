package graft

import org.apache.spark.sql.SparkSession

/** The one way graft makes a SparkSession: every main (Bench, Verify,
  * StreamBench, Probe, PlanDump) and every spec builds its session here,
  * so the correctness gate, the invariance sweep, the probes and the
  * tests run the plan shapes the bench times.
  *
  * graft's SQL functions are not installed here: the classpath extension
  * provider [[graft.functions.GraftExtensions]] (listed in
  * `META-INF/services`) installs them into every session a builder
  * creates, including sessions built outside this factory. */
object GraftSession {

  /** A `local[cpus]` session; `cpus` defaults to `$SPARK_GRAFT_CPUS`, else 4. */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Persisted frames materialized with AQE disabled keep all
      // `shuffle.partitions` post-shuffle partitions, so every downstream
      // scan of a cached 25-row frame runs one near-empty task per
      // partition (q153 alone spent ~3 s in ~12 such empty 32-task
      // stages). Letting AQE re-optimize cached-plan materialization
      // (partition coalescing included) collapses them. Coalescing
      // targets advisoryPartitionSizeInBytes instead of local parallelism
      // (parallelismFirst=false), so it adapts to data size: tiny frames
      // coalesce to one partition, 100 TB frames to ~64 MB splits.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Coalescing floor (default 1m): once bytes/parallelism drops under
      // the floor, the floor is the target, so 1 MB collapsed CPU-dense
      // few-MB cached frames (vector scoring legs) to 1-3 partitions.
      // 64k keeps mid-size frames at full parallelism and still folds
      // empty partitions; at cluster scale bytes/parallelism is far above
      // both floors, so this changes nothing there.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      // Fixture `events.ts` has been written as TIMESTAMP(NANOS) by some
      // generators; `Tables.load` adapts on the read dtype.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
