package graft

import java.io.{File, IOException}
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.Locale
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Tables mirror the relational surface the reference delegates to its
  * embedded engine (SURVEY.md §2.B): a TPC-H-ish star schema plus
  * `events` (stream-shaped) and `documents`/`embeddings` (LLM-pipeline
  * extension tables, SURVEY.md §7.5).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` must surface as Spark's native µs `TimestampType` for
    * downstream event-time semantics (windows, watermarks) and for the
    * DuckDB oracle compare (session TZ is pinned to UTC everywhere, so
    * NTZ wall-clock == LTZ instant). The fixture's physical type has
    * drifted across driver regenerations — TIMESTAMP(NANOS) (read as
    * BIGINT under `spark.sql.legacy.parquet.nanosAsLong=true`) vs
    * timestamp[us] (read as TIMESTAMP_NTZ) — so the conversion branches
    * on the *read* dtype instead of assuming one encoding (VERDICT r12
    * "what's wrong" #1: the unconditional nanos rewrite crashed 24
    * queries when the fixture became µs).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadWithBytes(spark, dir, name)._1

  /** [[load]] plus the input's data-file bytes, from the same file walk. */
  private def loadWithBytes(spark: SparkSession, dir: String, name: String): (DataFrame, Long) = {
    val path = s"$dir/$name.parquet"
    val leaves = leafFiles(new File(path))
    (normalize(spark, name, read(spark, path, leaves)), leaves.filter(_.data).map(_.size).sum)
  }

  private def normalize(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    if (name == "events") {
      // The NTZ->LTZ cast below is instant-correct ONLY under a UTC
      // session (wall-clock == instant). Every entry point pins
      // spark.sql.session.timeZone=UTC; a future one that forgets must
      // fail HERE, loudly, instead of silently shifting every event
      // instant by the local offset (ADVICE r13).
      require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "Tables.load(events) requires spark.sql.session.timeZone=UTC — " +
          "the TimestampNTZ->Timestamp normalization reads fixture " +
          "wall-clock as the instant; a non-UTC session would skew all " +
          "event-time results")
      val out = df.schema("ts").dataType match {
        case LongType          => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case TimestampNTZType  => df.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType     => df
        case other => throw new IllegalStateException(
          s"events.ts read as unsupported type $other — fixture drifted again; extend Tables.load")
      }
      assert(out.schema("ts").dataType == TimestampType, "events.ts must normalize to TimestampType")
      out
    } else df
  }

  /** Total shuffle bytes above which [[loadSpread]] degrades to a plain
    * [[load]]: a production input is many multi-row-group files whose
    * natural scan parallelism already exceeds any core count, and
    * re-spreading it would shuffle the whole corpus — the gate keeps the
    * spread strictly a small-input fix. 256 MB ~ 2 default row groups:
    * any input bigger than that splits on its own. */
  private val SpreadMaxBytes: Long =
    sys.env.get("SPARK_GRAFT_SPREAD_MAX_BYTES").map(_.toLong)
      .getOrElse(256L * 1024 * 1024)

  /** [[load]] plus a scan-parallelism floor for CPU-heavy consumers
    * (round 21, optimization guide §2/§6). The driver fixtures are
    * single-file SINGLE-ROW-GROUP parquet, and parquet cannot split a
    * row group, so every scan is one task no matter what
    * `files.maxPartitionBytes` / `minPartitionNum` say — all scan-local
    * kernel work (trigram/gram hashing, normalization, regex) and every
    * cache fill built on the scan serializes on one core of the
    * `local[$SPARK_GRAFT_CPUS]` box. Callers whose dominant cost is
    * per-row compute over the scan use this loader: when (and only
    * when) the input file is small enough that redistributing it is
    * noise ([[SpreadMaxBytes]]), rows are round-robin re-spread to the
    * session's default parallelism — derived from the session, never a
    * constant — so kernels and downstream caches parallelize. Above the
    * gate the input's own file/row-group parallelism wins and this is
    * exactly [[load]]: no corpus-sized shuffle exists at any real
    * scale. Round-robin is retry-safe (Spark sorts before round-robin
    * repartition — SPARK-23207); results stay partition-invariant by
    * the repo's standing CPUS=2-vs-16 sweep. */
  /** Per-table spread keys: the primary key hashes evenly and is
    * deterministic under task retry (guide §2.5 — never rand-derived).
    * Hash beats round-robin here because round-robin pays a full local
    * sort of the (single) input partition first (SPARK-23207). */
  private val spreadKeys: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("user_id", "ts"),
    "orders" -> Seq("o_orderkey"),
    // lineitem spreads on l_orderkey ALONE: the common join key, so an
    // order-key equi-join can reuse the spread exchange outright
    // (HashPartitioning(l_orderkey) satisfies the join's distribution;
    // adding l_linenumber would force a second shuffle).
    "lineitem" -> Seq("l_orderkey"),
    "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"))

  /** One file under a fixture path: its path relative to the fixture
    * root, length and mtime. `data` is false for hidden and metadata files
    * (`.`/`_` prefixes) and everything under them. */
  private final case class Leaf(rel: String, size: Long, mtimeNanos: Long, data: Boolean)

  /** Every file under `f` (a single parquet file OR a Spark-written
    * directory of part files), one stat each, in name order. The list is
    * both the schema cache's file signature and the spread gate's byte
    * count: the gate sums the `data` leaves, so a directory-shaped input
    * sees the same total bytes as the single-file fixture of the same
    * data (a gate that counted single files only never spread the
    * directory shape, and its plan diverged; ScaleStressSpec pins both).
    * Empty when `f` is not a local file or directory. */
  private def leafFiles(f: File, rel: String = "", data: Boolean = true): Seq[Leaf] =
    f.listFiles() match {
      case null =>
        try {
          val a = Files.readAttributes(f.toPath, classOf[BasicFileAttributes])
          if (a.isRegularFile)
            Seq(Leaf(rel, a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS), data))
          else Seq.empty
        } catch { case _: IOException => Seq.empty }
      case kids => kids.sortBy(_.getName).toSeq.flatMap { k =>
        val n = k.getName
        leafFiles(k, s"$rel/$n", data && !n.startsWith(".") && !n.startsWith("_"))
      }
    }

  /** A path's inferred schema, valid while its files and the session's
    * parquet-inference settings are what they were at inference. */
  private final case class SchemaEntry(
      leaves: Seq[Leaf], parquetConf: Seq[(String, String)], schema: StructType)

  /** Inferred fixture schemas per session (held weakly: a dropped
    * session's entries go with it), one entry per resolved path. Without
    * it every load pays Spark's footer-inference job before the query
    * starts; with it only a path's first load in a session does, and a
    * rewritten file or a changed parquet setting infers again and
    * replaces the entry. Schemas only: no DataFrame, no data. */
  private val schemas = new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, SchemaEntry]]()

  private def read(spark: SparkSession, path: String, leaves: Seq[Leaf]): DataFrame =
    if (leaves.isEmpty) spark.read.parquet(path) // not local: no signature to key on
    else {
      val conf = spark.conf.getAll.toSeq
        .filter(_._1.toLowerCase(Locale.ROOT).contains("parquet")).sorted
      val entries = schemas.synchronized(
        schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, SchemaEntry]()))
      val key = Paths.get(path).toAbsolutePath.normalize.toString
      Option(entries.get(key)).filter(e => e.leaves == leaves && e.parquetConf == conf) match {
        case Some(e) => spark.read.schema(e.schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          entries.put(key, SchemaEntry(leaves, conf, df.schema))
          df
      }
    }

  /** Cached schema entries of `spark`'s session (for specs). */
  private[graft] def cachedSchemas(spark: SparkSession): Int =
    schemas.synchronized(Option(schemas.get(spark)).fold(0)(_.size))

  /** Sessions that still hold cached schemas (for specs). */
  private[graft] def cachedSessions: Int = schemas.synchronized(schemas.size)

  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (df, bytes) = loadWithBytes(spark, dir, name)
    if (bytes > 0 && bytes <= SpreadMaxBytes)
      spreadKeys.get(name) match {
        case Some(ks) => df.repartition(
          spark.sparkContext.defaultParallelism, ks.map(col): _*)
        case None => df.repartition(spark.sparkContext.defaultParallelism)
      }
    else df
  }

  /** Register fixture tables as temp views so `spark.sql` queries
    * (grouping sets, correlated subqueries, …) resolve by name — the
    * Spark analog of the reference's `ctx.register_table`
    * (examples/simple_query.rs:72). Query builders register only the
    * views they read (no whole-catalog side effects per invocation).
    */
  def register(spark: SparkSession, dir: String, tables: String*): Unit =
    tables.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  def registerAll(spark: SparkSession, dir: String): Unit =
    register(spark, dir, names: _*)
}
