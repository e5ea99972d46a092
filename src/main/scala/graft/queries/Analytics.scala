package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables

/** K-means constants + the two-round Lloyd oracle CTE, shared by the
  * Analytics cluster family (q93/q100/q121/q127) AND Pipeline's q189
  * cross-method dedup sweep. A separate, dependency-FREE holder on
  * purpose: Pipeline.defs builds its oracle strings at object init, and
  * referencing `Analytics` there would trigger Analytics's own init
  * mid-Pipeline-init (the cross-object val-order trap documented at
  * Pipeline's MinHash block). This object has no fields that touch any
  * other query object, so either side can force it first, safely. */
private[graft] object KmeansShared {

  /** q100/q189 within-cell near-dup cosine threshold. Fixture
    * embeddings are random (max pairwise cosine ~0.51), so 0.3 surfaces
    * the most-similar tail — ~300 of ~15k within-cell pairs at sf0.01;
    * a real corpus would use ~0.9. */
  val SemCos = 0.3

  /** DuckDB mirror of the two-round Lloyd kernel: CTE chain `c0 … a2`,
    * a2 = (vec_id, cid). */
  val assignCte: String =
    """c0 AS (
      |  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS ce
      |  FROM embeddings WHERE vec_id < 8),
      |p1 AS (
      |  SELECT e.vec_id, c.cid,
      |         unnest(e.embedding)::DOUBLE AS x, unnest(c.ce) AS y
      |  FROM embeddings e, c0 c),
      |d1 AS (SELECT vec_id, cid, SUM((x-y)*(x-y)) AS d FROM p1 GROUP BY 1, 2),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM d1) WHERE rn = 1),
      |dims AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |         unnest(embedding)::DOUBLE AS x
      |  FROM embeddings),
      |m1 AS (
      |  SELECT a1.cid, dims.pos, round(AVG(dims.x), 6) AS y
      |  FROM a1 JOIN dims ON a1.vec_id = dims.vec_id
      |  GROUP BY 1, 2),
      |d2 AS (
      |  SELECT dims.vec_id, m1.cid, SUM((dims.x - m1.y) * (dims.x - m1.y)) AS d
      |  FROM dims JOIN m1 ON dims.pos = m1.pos
      |  GROUP BY 1, 2),
      |a2 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM d2) WHERE rn = 1)""".stripMargin
}

/** Round-5 batch-analytics and data-governance extensions.
  *
  * Two themes, both 100 TB-shaped:
  *
  *  1. *Storage-layout-aware execution* — the levers a real cluster pulls
  *     to kill shuffles before they happen: bucketed co-located joins
  *     (q65) and contiguous global-ID assignment without a single global
  *     window (q73). On a 1000-executor cluster these are the difference
  *     between a map-side merge and re-shuffling the fact table on every
  *     query.
  *
  *  2. *Training-data governance* — PII redaction (q66), stratified
  *     sampling (q67), semi-structured JSON extraction (q68), batch
  *     sessionization (q69), histogramming (q70), z-score anomaly
  *     flagging (q71), per-class embedding centroids (q72). All
  *     scan-local or single-keyed-shuffle plans.
  *
  * Cross-engine determinism follows the repo contract (QueryDef scaladoc):
  * every column aliased, total ORDER BY, integer arithmetic or
  * round(x, 4..6) on anything that crossed a float aggregation.
  */
object Analytics {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** q90's fixed-size mergeable histogram: per (lang, bucket) exact
    * counts, bucket = 16*e + sub with e = length(bin(x)) (= floor(log2 x)
    * + 1, integer-exact — no float log) and sub the 16-way linear split
    * of [2^(e-1), 2^e). Exposed so AnalyticsSpec can pin the merge law
    * (sketch(A ∪ B) = sketch(A) + sketch(B)) and the value-error bound.
    */
  private[queries] def quantileSketch(docs: DataFrame): DataFrame =
    docs.filter(col("n_chars") >= 1)
      .withColumn("e", length(expr("bin(n_chars)")).cast(IntegerType))
      // per-row shift amount -> call_function (functions.shiftleft only
      // takes a literal amount)
      .withColumn("p", call_function("shiftleft", lit(1L), col("e") - 1))
      .withColumn("bucket",
        col("e").cast(LongType) * 16 + expr("((n_chars - p) * 16) div p"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  // q65's layout step is write-ONCE per source dir — that is the
  // production semantics being modeled (bucket the fact table once,
  // join shuffle-free forever after), and it keeps repeated builds
  // (bench warm-up + 3 timed runs, spec re-runs) from re-paying the
  // write. Path AND table names are qualified by the sanitized source
  // dir (like ensurePartitionedEvents), so two sessions in one JVM
  // reading different dirs get disjoint files and registrations instead
  // of overwriting each other (ADVICE r5). Written-paths are tracked per
  // dir; registration is re-checked per session (catalogs are
  // session-scoped, files are JVM-global).
  private val bucketedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Returns the dir-qualified (customerTable, ordersTable) names. */
  private def ensureBucketedTables(s: SparkSession, dir: String): (String, String) = synchronized {
    val dirKey = graft.BuildPaths.dirKey(dir)
    val cTbl = s"graft_bkt_customer_$dirKey"
    val oTbl = s"graft_bkt_orders_$dirKey"
    val written = bucketedDirs.contains(dir)
    if (!(written && s.catalog.tableExists(cTbl) && s.catalog.tableExists(oTbl))) {
      val root = graft.BuildPaths.scratch(s"bucketed/$dirKey")
      // External path so the layout is cwd-independent. 8 buckets here; a
      // cluster would use hundreds sized to executor count.
      T(s, dir, "customer").write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$root/$cTbl")
        .format("parquet").saveAsTable(cTbl)
      T(s, dir, "orders").write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$root/$oTbl")
        .format("parquet").saveAsTable(oTbl)
      bucketedDirs.add(dir)
    }
    (cTbl, oTbl)
  }

  /** The nation-level trade aggregate BOTH graph queries consume (q128
    * directed edges, q153 undirected pairs — VERDICT r14 #7: they each
    * paid this identical fact join; one definition now, so the edge
    * semantics cannot drift): ONE corpus-sized lineitem⋈orders join
    * with broadcast customer/supplier dims, aggregated straight to
    * ≤ #nations² (c_nationkey, s_nationkey, w) rows. Each consumer
    * persists its derived edge frame across its own iteration rounds;
    * at 100 TB (nodes = hosts) this is the one shuffle either query
    * pays. */
  private def tradeNationPairs(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val supp = T(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey"), col("s_nationkey"))
      .agg(count(lit(1)).as("w"))
  }

  // q77's layout step is write-once per (JVM, source dir), like q65's
  // bucketed tables: partition-by-day is a one-time storage decision that
  // every later day-ranged query exploits via partition pruning.
  private val partitionedEvents = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensurePartitionedEvents(s: SparkSession, dir: String): String = synchronized {
    val cached = partitionedEvents.get(dir)
    if (cached != null) cached
    else {
      val path = graft.BuildPaths.scratch(s"events_by_day/${graft.BuildPaths.dirKey(dir)}")
      T(s, dir, "events")
        .withColumn("d", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("d").parquet(path)
      partitionedEvents.put(dir, path)
      path
    }
  }

  // q79 Bloom geometry: 2^16 bits (1024 longs — an 8 KB broadcast no
  // matter how large the benchmark set grows) probed twice per shingle.
  private val BloomBits = 1 << 16
  private val BloomProbes = 2

  // q82's two-generation layout, write-once like q77/q65: shard v1 was
  // written before the pipeline added `quality`; shard v2 carries it.
  private val evolvedShards = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensureEvolvedShards(s: SparkSession, dir: String): String = synchronized {
    val cached = evolvedShards.get(dir)
    if (cached != null) cached
    else {
      val root = graft.BuildPaths.scratch(
        s"evolved_docs/${graft.BuildPaths.dirKey(dir)}")
      val docs = T(s, dir, "documents")
      // src0..src9 predate the quality column; src10..src19 have it.
      val isV2 = length(col("source")) === 5
      docs.filter(!isV2).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$root/v1")
      docs.filter(isV2)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          pmod(col("n_chars"), lit(100L)).as("quality"))
        .write.mode("overwrite").parquet(s"$root/v2")
      evolvedShards.put(dir, root)
      root
    }
  }

  // PII patterns shared by the Spark plan and the DuckDB oracle (both are
  // RE2-compatible: no backrefs, no lookaround — Java regex and RE2 agree
  // on every string for this subset, and `\d` is ASCII-only in both).
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+?\\d[\\d-]{7,}\\d"

  // Session gap for q69 (seconds). Computed on floor-to-second epochs so
  // both engines see identical integer gaps.
  private val SessionGapSec = 3600L

  // q75 chunking geometry: 64-token windows, stride 48 (16-token overlap)
  // — the standard pretraining-chunk shape, scaled to the fixture docs.
  private val ChunkTokens = 64
  private val ChunkStride = 48

  // q76: MinHash-LSH constants shared with q41 (and with its oracle) via
  // graft.functions.Sketches — the edge set of the duplicate graph IS
  // q41's candidate-pair output, so the two queries cannot drift.
  private val P = graft.functions.Sketches.P
  private val K = graft.functions.Sketches.K
  private val hashA = graft.functions.Sketches.hashA
  private val hashB = graft.functions.Sketches.hashB
  private val bandPairs: Seq[(Int, Int)] = (0 until K / 2).map(j => (2 * j, 2 * j + 1))

  // q76 propagation rounds: min-label propagation reaches fixpoint in
  // `diameter(component)` rounds. Near-dup clusters are prefix-sharing
  // groups (FIXTURES: pairs/triples, diameter <= 3); 8 rounds is a 2x+
  // safety margin, and AnalyticsSpec asserts a 9th round changes nothing.
  private val CCRounds = 8

  /** DuckDB mirror of q41's LSH band keys (same hash family): CTE chain
    * `words → sh → h → mh → bands`. Shared by q76 (candidate pairs) and
    * q78 (batch-vs-corpus band anti-join). */
  private def minhashBandsCte: String = {
    val minCols = (0 until K).map(i =>
      s"min((hp * ${hashA(i)} + ${hashB(i)}) % $P) AS m$i").mkString(",\n        ")
    val bandSelects = bandPairs.zipWithIndex.map { case ((x, y), j) =>
      s"SELECT doc_id, $j AS band, m$x || '_' || m$y AS key FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""words AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
       |sh AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       |  FROM words, unnest(generate_series(1, len(ws)-2)) AS u(i)
       |  WHERE len(ws) >= 3),
       |h AS (
       |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % $P AS hp FROM sh),
       |mh AS (
       |  SELECT doc_id,
       |        $minCols
       |  FROM h GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** DuckDB mirror of q41's candidate pairs (bands CTE + the self-join),
    * reused as the recursive-CTE edge set for q76. */
  private def minhashPairsCte: String =
    s"""$minhashBandsCte,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB mirror of the q76 cluster assignment: the recursive
    * reachability walk over [[minhashPairsCte]]'s near-dup edges, ending
    * in `comp` = (doc_id, cluster_id). Shared by the q76 and q125
    * oracles (same no-drift rule as the Spark kernel). Callers prepend
    * `WITH RECURSIVE `. */
  private def dupClusterCte: String =
    s"""$minhashPairsCte,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (
       |  SELECT id AS doc_id, MIN(r) AS cluster_id
       |  FROM reach GROUP BY id)""".stripMargin

  // q219: salt fan-out for the skew-join demonstration.
  private[queries] final val SkewSalts = 8

  /** DuckDB mirror of q219: the UNSALTED join — salting must be
    * invisible in the result. */
  private def saltedSkewJoinOracle: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 < 5 THEN 0 ELSE doc_id % 100 END AS k,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
      |  FROM documents WHERE text IS NOT NULL),
      |dim AS (SELECT DISTINCT k FROM f)
      |SELECT 'seg' || CAST(f.k AS VARCHAR) AS seg,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(f.n_tok) AS BIGINT) AS n_tokens
      |FROM f JOIN dim USING (k)
      |GROUP BY f.k
      |ORDER BY seg""".stripMargin

  /** DuckDB mirror of q233: the q76 recursive cluster walk as the dup
    * set, the same fixed quality bands, the same cross-tab. */
  private def qualityDupOracle: String =
    s"""WITH RECURSIVE $dupClusterCte,
       |dup AS (SELECT DISTINCT doc_id FROM comp),
       |d AS (
       |  SELECT doc_id,
       |    CAST(round(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
       |         / len(string_split(lower(text), ' ')) * 1000000, 0) AS BIGINT)
       |      // 100000 AS band,
       |    CASE WHEN doc_id IN (SELECT doc_id FROM dup) THEN 1 ELSE 0 END AS is_dup
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT band, COUNT(*) AS n_docs,
       |  CAST(SUM(is_dup) AS BIGINT) AS n_dup,
       |  (CAST(SUM(is_dup) AS BIGINT) * 1000000) // COUNT(*) AS dup_rate_micro
       |FROM d GROUP BY band
       |ORDER BY band""".stripMargin

  /** DuckDB mirror of q215: the q76 recursive cluster walk, cluster
    * sizes, and the same 1e6 DIV |cluster| weight over the corpus. */
  private def dedupWeightingOracle: String =
    s"""WITH RECURSIVE $dupClusterCte,
       |csz AS (SELECT cluster_id, COUNT(*) AS csz FROM comp GROUP BY cluster_id),
       |w AS (
       |  SELECT d.source, COALESCE(cs.csz, 1) AS csz
       |  FROM documents d
       |  LEFT JOIN comp USING (doc_id)
       |  LEFT JOIN csz cs USING (cluster_id)
       |  WHERE d.text IS NOT NULL)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN csz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
       |  CAST(SUM(1000000 // csz) AS BIGINT) AS weight_sum_micro,
       |  CAST(SUM(1000000 // csz) AS BIGINT) // COUNT(*) AS mean_weight_micro
       |FROM w GROUP BY source
       |ORDER BY source""".stripMargin

  /** DuckDB mirror of q216: identical double-precision expression
    * sequence (cast-to-double elements, max-abs scale, round-half-away
    * codes, per-element error rounded to integer 1e-12 units before the
    * order-free integer sum). */
  private def sq8QuantizeOracle: String =
    """WITH t AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
      |  FROM embeddings),
      |sc AS (
      |  SELECT vec_id, label, v,
      |    list_max(list_transform(v, y -> abs(y))) AS scale
      |  FROM t),
      |q AS (
      |  SELECT vec_id, label, v, scale,
      |    CASE WHEN scale > 0
      |      THEN list_transform(v, y -> CAST(round(y / scale * 127, 0) AS BIGINT))
      |      ELSE list_transform(v, y -> CAST(0 AS BIGINT)) END AS codes
      |  FROM sc)
      |SELECT vec_id, label,
      |  CAST(len(v) AS BIGINT) AS n_dims,
      |  CAST(round(scale * 1e6, 0) AS BIGINT) AS scale_micro,
      |  CAST(list_sum(list_transform(generate_series(1, len(codes)),
      |    i -> codes[i] * i)) AS BIGINT) AS code_checksum,
      |  CAST(list_sum(list_transform(generate_series(1, len(v)),
      |    i -> CAST(round((v[i] - codes[i] * scale / 127)
      |         * (v[i] - codes[i] * scale / 127) * 1e12, 0) AS BIGINT)))
      |    AS BIGINT) AS sse_micro12,
      |  CAST(len(v) * 4 AS BIGINT) AS bytes_fp32,
      |  CAST(len(v) + 8 AS BIGINT) AS bytes_sq8
      |FROM q
      |ORDER BY vec_id""".stripMargin

  /** q76's distributed min-label propagation, factored so q125's
    * canonical-keep reuses the IDENTICAL cluster assignment (the
    * q93/q100 no-drift rule): returns (doc_id, cluster_id) for every
    * near-dup node, unordered. Runs the propagation loop at build time —
    * each round is a keyed join + keyed min-agg over the (tiny: near-dup
    * nodes only) frame, localCheckpoint-truncated lineage, LOUD failure
    * if the safety bound is hit with labels still moving. */
  private def dupClusterAssign(s: SparkSession, dir: String): DataFrame =
    // Round 18: the converged assignment itself is a stored SketchStore
    // artifact (VERDICT r17 #8) — q76/q125/q215/q233 all read ONE
    // materialized (doc_id, cluster_id) table instead of each re-running
    // the propagation loop. The build (SketchStore.dupClusters) runs
    // [[dupClusterPropagate]] over the stored q41 pair artifact, so the
    // edges still derive from the same standing band index the candidate
    // generator and the q189 sweep grade.
    SketchStore.dupClusters(s, dir)

  /** The propagation loop itself, parameterized on the (doc_a, doc_b)
    * near-dup pair frame — called once per corpus by the
    * SketchStore.dupClusters artifact build. */
  private[queries] def dupClusterPropagate(s: SparkSession, pairs: DataFrame): DataFrame = {
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").persist()
    var comp = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
    // Iterate to FIXPOINT with a per-round convergence check (a scalar
    // aggregate over the checkpointed round output — the standard
    // iterative-algorithm driver loop; no row data ever reaches the
    // driver). CCRounds is the safety bound, not the expected count:
    // min-label propagation converges in diameter(component) rounds
    // (2-3 on prefix-sharing near-dup clusters).
    // One min-over-neighbors propagation step per materialized round.
    // (A two-hop-per-round variant was measured and did NOT win: the
    // deeper pre-checkpoint plan costs more than the saved round on
    // these tiny frames.)
    var converged = false
    var round = 0
    while (!converged && round < CCRounds) {
      round += 1
      val nbrMin = edges.join(comp, edges("dst") === comp("id"))
        .groupBy(col("src").as("nid")).agg(min(col("comp")).as("nbr_min"))
      val next = comp.join(nbrMin, col("id") === col("nid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"),
          (coalesce(col("nbr_min"), col("comp")) < col("comp")).as("changed"))
        // localCheckpoint (not persist): each round's plan embeds the
        // previous round's, so without truncation the logical plan
        // doubles per round — 2^8 nodes by round 8 blew the optimizer's
        // heap. Checkpointing pins the (tiny: near-dup nodes only)
        // frame and restarts the plan from a leaf.
        .localCheckpoint()
      converged = next.filter(col("changed")).isEmpty
      comp = next.drop("changed")
    }
    // Non-convergence must be LOUD (ADVICE r5): exhausting the safety
    // bound with labels still moving means some component has diameter
    // > CCRounds and the ids below would be silently wrong. Raise the
    // bound for such data rather than returning a partial fixpoint.
    if (!converged) throw new IllegalStateException(
      s"q76 min-label propagation did not converge within $CCRounds rounds: " +
        "a duplicate cluster has diameter > the safety bound; raise CCRounds")
    comp.select(col("id").as("doc_id"), col("comp").as("cluster_id"))
  }

  // q100 within-cell near-dup threshold (held in the dependency-free
  // KmeansShared so Pipeline's q189 sweep grades by the same τ without
  // its object init ever triggering this object's — the cross-object
  // val-init trap documented at Pipeline's MinHash block).
  private val SEMDEDUP_COS = KmeansShared.SemCos

  /** Shared two-round Lloyd kernel (q93 cluster profile, q100 semantic
    * dedup — one definition so the two queries cannot drift):
    *   - assignment is SCAN-LOCAL — all K centroids ride to every row in
    *     one broadcast row (K×dims doubles, kilobytes at any corpus size)
    *     and the argmin is a fold over that array; no shuffle, no N×K
    *     exploded join;
    *   - the mean update is the ONLY shuffle per round, and partial
    *     aggregation collapses it to K×dims (sum,count) cells per map
    *     task regardless of corpus size.
    * Cross-engine determinism: round-1 centroids are exact float→double
    * casts; updated centroids are round(avg,6) so round 2 assigns from
    * bit-identical inputs in both engines; ties break to the lowest
    * centroid id (strict < in the fold ≡ ROW_NUMBER ORDER BY d, cid).
    */
  private[graft] object Kmeans {
    // Squared L2 between a row vector and one centroid: one sequential
    // left-to-right summation per pair — the identical IEEE operation
    // order in both engines (QueryDef determinism contract). Round 21:
    // the native codegen kernel (graft.functions.Dist2) replaces the
    // interpreted aggregate(zip_with(...)) fold — bit-identical by
    // construction (same left-to-right (x-y)*(x-y) accumulation,
    // SketchParitySpec-pinned), but it runs inside whole-stage codegen
    // instead of per-element lambda interpretation; Probe measured the
    // fold as the dominant stage of every PQ encode/LUT leg.
    def dist2(v: Column, c: Column): Column =
      call_function("graft_dist2", v, c)

    // Argmin over the broadcast centroid array; strict < keeps the
    // lowest cid on exact ties (cents is sorted by cid). The full
    // (d, cid) struct — q121 keeps the distance, assign() drops it.
    def assignStruct(v: Column, cents: Column): Column =
      aggregate(cents,
        struct(lit(Double.MaxValue).as("d"), lit(-1L).as("cid")),
        (acc, c) => {
          val d = dist2(v, c.getField("ce"))
          when(d < acc.getField("d"),
            struct(d.as("d"), c.getField("cid").as("cid"))).otherwise(acc)
        })

    def assign(v: Column, cents: Column): Column =
      assignStruct(v, cents).getField("cid")

    // All K centroids as ONE broadcastable row of (cid, vector) structs.
    def centroidRow(df: DataFrame): DataFrame =
      df.agg(array_sort(collect_list(struct(col("cid"), col("ce")))).as("cents"))

    /** Input columns preserved, plus `cluster_id` (and `cluster_d2`, the
      * squared distance to the winning centroid — q121 ranks on it,
      * q93/q100 ignore it) from two deterministic Lloyd rounds seeded by
      * vec_id < k (default 8 — what the q93/q100 oracles pin). Expects a
      * DOUBLE vector column `v` and a `vec_id` column. K is the scale
      * knob: cells bound the quadratic within-cell work downstream, so
      * production raises K with the corpus (ScaleStressSpec pins this as
      * a tested fact).
      */
    def twoRoundAssign(e: DataFrame, k: Int = 8): DataFrame = {
      val c0 = centroidRow(e.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("v").as("ce")))
      val a1 = e.crossJoin(broadcast(c0))
        .select(col("v"), assign(col("v"), col("cents")).as("cid"))
      // Mean update: posexplode is scan-local; the exchange carries only
      // K×dims (sum,count) partials per map task. round(avg,6) pins the
      // round-2 inputs bit-identically across engines.
      val m1 = centroidRow(
        a1.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cid"), col("pos"))
          .agg(round(avg(col("x")), 6).as("y"))
          .groupBy(col("cid"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("y")))),
            p => p.getField("y")).as("ce")))
      e.crossJoin(broadcast(m1))
        .withColumn("asg", assignStruct(col("v"), col("cents")))
        .withColumn("cluster_id", col("asg").getField("cid"))
        .withColumn("cluster_d2", col("asg").getField("d"))
        .drop("cents", "asg")
    }
  }

  /** DuckDB mirror of the two-round Lloyd kernel: CTE chain `c0 … a2`,
    * a2 = (vec_id, cid). Shared by q93 and q100 (same no-drift rule as
    * [[minhashBandsCte]]) — and, via [[KmeansShared]], by q189's
    * cross-method sweep in Pipeline. */
  private val kmeansAssignCte: String = KmeansShared.assignCte

  // ---- q109 product-quantization constants (shared with the oracle
  // generator — declared BEFORE `defs`, Scala val-init order). DIM=64
  // splits into PQ_M×PQ_SUB; PQ_K codes per subvector come from the
  // deterministic seed rule (vec_ids 1..PQ_K), the q93/q55 convention.
  private[queries] val PQ_M = 4    // subvectors per vector
  private[queries] val PQ_SUB = 16 // dims per subvector
  private[queries] val PQ_K = 16   // codes per subvector codebook

  /** q109's oracle, exposed for q249's IVF+PQ composition (the leg
    * splice convention — one oracle text, no drift). */
  private[queries] def pqAnnOracleShared: String = pqAnnOracle

  val defs: Seq[QueryDef] = Seq(

    // ---- q65: bucketed co-located join --------------------------------
    // THE canonical 100 TB join fix: pre-bucket both sides on the join
    // key (same bucket count) so every subsequent join is a map-side
    // sort-merge with ZERO Exchange on either input — at cluster scale
    // this turns an every-query 100 TB fact-table shuffle into a
    // write-once layout decision. StorageLayoutSpec asserts the plan has
    // no exchange under the join. The `merge` hint pins SMJ so the
    // bucketed layout (not a small-table broadcast) is what's exercised.
    QueryDef(
      "q65_bucketed_join",
      """SELECT c.c_mktsegment,
        |  COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val (cTbl, oTbl) = ensureBucketedTables(s, dir)
      val c = s.table(cTbl)
      val o = s.table(oTbl)
      o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).as("total_price"))
        .orderBy(col("c_mktsegment"))
    },

    // ---- q66: PII redaction -------------------------------------------
    // Scan-local regexp rewrite (codegen'd RegExpReplace, no UDF). The
    // fixture text carries no PII, so both engines append a deterministic
    // synthetic contact line first — the redaction path is then exercised
    // on every row and the counts prove each pattern fired.
    QueryDef(
      "q66_pii_redact",
      s"""WITH t AS (
         |  SELECT doc_id,
         |         text || ' contact user' || doc_id || '@example.com or +1-555-' || doc_id || '-0199.' AS txt
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(txt, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(txt, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(txt, '$PhoneRe')) AS BIGINT) AS n_phones
         |FROM t
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val txt = concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or +1-555-"), col("doc_id"), lit("-0199."))
      Tables.loadSpread(s, dir, "documents")
        .withColumn("txt", txt)
        .select(
          col("doc_id"),
          regexp_replace(regexp_replace(col("txt"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
            .as("redacted"),
          size(regexp_extract_all(col("txt"), lit(EmailRe), lit(0))).cast(LongType).as("n_emails"),
          size(regexp_extract_all(col("txt"), lit(PhoneRe), lit(0))).cast(LongType).as("n_phones"))
        .orderBy(col("doc_id"))
    },

    // ---- q67: stratified sampling -------------------------------------
    // Exact per-stratum quota (20 docs per language), deterministic and
    // append-stable: rank within stratum by a salted md5 of the key, so
    // re-runs and late-arriving partitions keep the same picks. One
    // keyed shuffle (partitionBy lang); no sampling-by-fraction
    // nondeterminism.
    QueryDef(
      "q67_stratified_sample",
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id || '|strat'), doc_id) AS BIGINT) AS rn
        |  FROM documents) t
        |WHERE rn <= 20
        |ORDER BY lang, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(concat(col("doc_id"), lit("|strat"))), col("doc_id"))
      T(s, dir, "documents")
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 20)
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    },

    // ---- q68: semi-structured JSON extraction -------------------------
    // events.props is a JSON string column; extraction is scan-local
    // (codegen'd GetJsonObject) feeding a 5-group aggregate. At 100 TB
    // the JSON parse dominates — it stays in the map phase; only
    // (event_type, partial agg) rows shuffle.
    QueryDef(
      "q68_json_extract",
      """WITH e AS (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type,
        |  COUNT(CASE WHEN k > 50 THEN 1 END) AS n_high,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  round(AVG(k), 6) AS avg_k
        |FROM e GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      T(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy(col("event_type"))
        .agg(
          count(when(col("k") > 50, 1)).as("n_high"),
          sum(col("k")).as("sum_k"),
          round(avg(col("k")), 6).as("avg_k"))
        .orderBy(col("event_type"))
    },

    // ---- q69: batch sessionization -------------------------------------
    // Gap-based session assignment: lag + conditional flag + running sum,
    // all inside ONE keyed window (partitionBy user_id) — a single
    // shuffle keyed by user, then a same-key aggregate that AQE keeps
    // co-partitioned. Gaps are computed on floor-to-second epochs so the
    // integer arithmetic is engine-identical.
    QueryDef(
      "q69_sessionize",
      s"""WITH e AS (
         |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
         |g AS (
         |  SELECT user_id, event_id, tsec,
         |         CASE WHEN lag(tsec) OVER w IS NULL
         |                OR tsec - lag(tsec) OVER w > $SessionGapSec
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
         |s AS (
         |  SELECT user_id, tsec,
         |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsec, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |  FROM g)
         |SELECT user_id, session_id,
         |  COUNT(*) AS n_events,
         |  MIN(tsec) AS start_s,
         |  MAX(tsec) - MIN(tsec) AS dur_s
         |FROM s GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"), col("event_id"))
      T(s, dir, "events")
        .withColumn("tsec", unix_timestamp(col("ts")))
        .withColumn("prev", lag(col("tsec"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("tsec") - col("prev") > SessionGapSec, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(LongType))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("tsec")).as("start_s"),
          (max(col("tsec")) - min(col("tsec"))).as("dur_s"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // ---- q70: fixed-width histogram ------------------------------------
    // floor(value / width) bucketing — the same IEEE double division on
    // both engines, so bucket membership is bit-identical. One keyed
    // aggregate; map-side partials carry (bucket, count, sum).
    QueryDef(
      "q70_histogram",
      """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  round(AVG(value), 6) AS avg_v
        |FROM events
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin) { (s, dir) =>
      T(s, dir, "events")
        .groupBy(floor(col("value") / 50.0).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_v"))
        .orderBy(col("bucket"))
    },

    // ---- q71: z-score anomaly flagging ---------------------------------
    // Per-type mean/stddev is a 5-row aggregate broadcast back onto the
    // stream — an N x 5 broadcast hash join, never a shuffle of the fact
    // side. round(z, 4) absorbs the ~1e-13 cross-engine aggregation
    // association drift (threshold membership at |z| = 2.5 exactly is
    // measure-zero on continuous data).
    QueryDef(
      "q71_zscore_anomaly",
      """WITH st AS (
        |  SELECT event_type, AVG(value) AS mu, stddev_samp(value) AS sigma
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, round((e.value - st.mu) / st.sigma, 4) AS z
        |FROM events e JOIN st USING (event_type)
        |WHERE abs((e.value - st.mu) / st.sigma) > 2.5
        |ORDER BY e.event_type, e.event_id""".stripMargin) { (s, dir) =>
      val ev = T(s, dir, "events")
      val st = ev.groupBy(col("event_type").as("st_type"))
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sigma"))
      val z = (col("value") - col("mu")) / col("sigma")
      ev.join(broadcast(st), col("event_type") === col("st_type"))
        .filter(abs(z) > 2.5)
        .select(col("event_id"), col("event_type"), round(z, 4).as("z"))
        .orderBy(col("event_type"), col("event_id"))
    },

    // ---- q72: per-class embedding centroid ------------------------------
    // posexplode -> (label, dim) partial-agg'd mean -> per-label norm.
    // The x64 row expansion never leaves the map side intact: partial
    // aggregation reduces each (label, dim) to one running (sum, count)
    // per task before the shuffle, so shuffle volume is
    // O(labels x dims x tasks), independent of corpus size.
    QueryDef(
      "q72_label_centroid",
      """WITH ex AS (
        |  SELECT label,
        |         generate_subscripts(embedding, 1) AS pos,
        |         unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |c AS (SELECT label, pos, AVG(x) AS c FROM ex GROUP BY label, pos)
        |SELECT label, round(sqrt(SUM(c * c)), 6) AS centroid_norm
        |FROM c GROUP BY label
        |ORDER BY label""".stripMargin) { (s, dir) =>
      T(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("x").cast(DoubleType)).as("c"))
        .groupBy(col("label"))
        .agg(round(sqrt(sum(col("c") * col("c"))), 6).as("centroid_norm"))
        .orderBy(col("label"))
    },

    // ---- q73: contiguous global-ID assignment ---------------------------
    // The scalable answer to "number every row 0..N-1": a global
    // row_number() window is a single-partition sort (driver-killer at
    // 100 TB); monotonically_increasing_id() is non-contiguous. Instead:
    // range-partition by key, index each partition locally
    // (iterator-only mapPartitions), prefix-sum the 16 partition counts
    // (a 16-row window — trivially small by construction), broadcast the
    // offsets back. Total cost: one range shuffle + one map pass.
    QueryDef(
      "q73_global_ids",
      """SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS gid
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ids = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .repartitionByRange(16, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
      val local = ids.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.zipWithIndex.map { case (id, i) => (pid, i.toLong, id) }
      }.toDF("pid", "pos", "doc_id")
      val offsets = local.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
        .withColumn("offset", coalesce(
          sum(col("cnt")).over(
            Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("pid").as("opid"), col("offset"))
      local.join(broadcast(offsets), col("pid") === col("opid"))
        .select(col("doc_id"), (col("offset") + col("pos")).as("gid"))
        .orderBy(col("doc_id"))
    },

    // ---- q74: int8-quantized cosine similarity --------------------------
    // The 100 TB ANN memory lever: per-vector symmetric int8 quantization
    // (scale = max|x| / 127) cuts the candidate-scan working set 4x vs
    // float32. Scales cancel in the cosine, so the quantized score is a
    // pure INTEGER dot product — bit-identical across engines with no fp
    // aggregation order to worry about. Plan shape is q42's: scan-local
    // quantize, 1-row query broadcast, TakeOrdered.
    QueryDef(
      "q74_quant_cosine",
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |s AS (
        |  SELECT e.vec_id, e.label,
        |         list_max(list_transform(e.embedding, x -> abs(x::DOUBLE))) / 127.0 AS se,
        |         list_max(list_transform(q.qe, x -> abs(x::DOUBLE))) / 127.0 AS sq,
        |         e.embedding, q.qe
        |  FROM embeddings e, q WHERE e.vec_id <> 0),
        |qt AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(round(x::DOUBLE / se) AS BIGINT)) AS ea,
        |         list_transform(qe, x -> CAST(round(x::DOUBLE / sq) AS BIGINT)) AS qa
        |  FROM s),
        |u AS (SELECT vec_id, label, unnest(ea) AS xa, unnest(qa) AS xb FROM qt),
        |d AS (
        |  SELECT vec_id, label,
        |         CAST(SUM(xa * xb) AS BIGINT) AS dot,
        |         CAST(SUM(xa * xa) AS BIGINT) AS na,
        |         CAST(SUM(xb * xb) AS BIGINT) AS nb
        |  FROM u GROUP BY vec_id, label)
        |SELECT vec_id, label, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_q
        |FROM d
        |ORDER BY cos_q DESC, vec_id
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val e = T(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val dbl = (c: Column) => transform(c, x => x.cast(DoubleType))
      val scaleOf = (c: Column) =>
        aggregate(c, lit(0.0), (a, x) => greatest(a, abs(x.cast(DoubleType)))) / 127.0
      val quant = (c: Column, sc: Column) =>
        transform(c, x => round(x.cast(DoubleType) / sc).cast(LongType))
      val fold = (c: Column) => aggregate(c, lit(0L), (acc, x) => acc + x)
      // Round 22: the round-21 scale hoist (sa/sb materialized via
      // withColumn through the cross-join) measured ~17% SLOWER in both
      // the builder's and the driver's bench and was reverted — the
      // inline form below is the measured-faster original (codes are
      // bit-identical either way; oracle pairing unchanged).
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          quant(col("embedding"), scaleOf(col("embedding"))).as("ea"),
          quant(col("qe"), scaleOf(col("qe"))).as("qa"))
        .select(col("vec_id"), col("label"),
          fold(zip_with(col("ea"), col("qa"), (x, y) => x * y)).as("dot"),
          fold(zip_with(col("ea"), col("ea"), (x, y) => x * y)).as("na"),
          fold(zip_with(col("qa"), col("qa"), (x, y) => x * y)).as("nb"))
        .select(col("vec_id"), col("label"),
          round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 6).as("cos_q"))
        .orderBy(col("cos_q").desc, col("vec_id"))
        .limit(20)
    },

    // ---- q75: document chunking for training ---------------------------
    // Overlapping fixed-token windows (64/stride 48) — the pretraining /
    // RAG chunker. Row-expanding but fully scan-local (explode of a
    // per-row sequence; no shuffle until the final ORDER BY, which a real
    // pipeline would not do — it would write chunks straight out).
    // Chunk count and membership are integer arithmetic; the chunk hash
    // is the repo's 60-bit md5 idiom.
    QueryDef(
      "q75_doc_chunks",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
         |n AS (
         |  SELECT doc_id, ws, len(ws) AS n,
         |         CASE WHEN len(ws) <= $ChunkTokens THEN 1
         |              ELSE CAST(1 + floor((len(ws) - $ChunkTokens + $ChunkStride - 1) / $ChunkStride) AS BIGINT)
         |         END AS n_chunks
         |  FROM w),
         |c AS (
         |  SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
         |         ws[ci * $ChunkStride + 1 : ci * $ChunkStride + $ChunkTokens] AS toks
         |  FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(ci))
         |SELECT doc_id, chunk_id,
         |  CAST(len(toks) AS BIGINT) AS n_tok,
         |  ('0x' || substr(md5(array_to_string(toks, ' ')), 1, 15))::BIGINT AS chunk_hash
         |FROM c
         |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      val ws = split(lower(col("text")), " ")
      T(s, dir, "documents")
        .select(col("doc_id"), ws.as("ws"))
        .withColumn("n", size(col("ws")))
        .withColumn("n_chunks",
          when(col("n") <= ChunkTokens, lit(1L))
            .otherwise((lit(1) + floor((col("n") - ChunkTokens + ChunkStride - 1) / lit(ChunkStride))).cast(LongType)))
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          slice(col("ws"), (col("chunk_id") * ChunkStride + 1).cast(IntegerType), lit(ChunkTokens)).as("toks"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("toks")).cast(LongType).as("n_tok"),
          conv(substring(md5(array_join(col("toks"), " ")), 1, 15), 16, 10).cast(LongType).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // ---- q148: chunk-level BM25 retrieval — the RAG shape (q96 ranks
    // whole DOCUMENTS, q75 only cuts chunks; retrieval-augmented
    // generation retrieves the best CHUNK, so the index unit must be the
    // chunk): q75's 64/48 windows become the corpus, BM25 runs with
    // chunk-level df / avgdl / length norm (Pipeline's shared k1/b/term
    // constants — no drift), top-10 chunks by integer-micro score.
    // 100 TB shape: chunking is scan-local explode; corpus stats are a
    // 1-row broadcast; tf partial-aggregates on (doc, chunk, term); the
    // final cut is TakeOrdered per-partition heaps — no global sort,
    // identical to q96's plan economics at chunk granularity. ----
    QueryDef(
      "q148_chunk_retrieval",
      {
        val inList = PipelineRetrieval.BM25_TERMS.map(t => s"'$t'").mkString(", ")
        s"""WITH w AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
           |n AS (
           |  SELECT doc_id, ws,
           |         CASE WHEN len(ws) <= $ChunkTokens THEN 1
           |              ELSE CAST(1 + floor((len(ws) - $ChunkTokens + $ChunkStride - 1) / $ChunkStride) AS BIGINT)
           |         END AS n_chunks
           |  FROM w),
           |c AS (
           |  SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
           |         ws[ci * $ChunkStride + 1 : ci * $ChunkStride + $ChunkTokens] AS toks
           |  FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(ci)),
           |stats AS (SELECT COUNT(*) AS n_chunks, AVG(len(toks)) AS avgdl FROM c),
           |qt AS (SELECT doc_id, chunk_id, len(toks) AS dl, unnest(toks) AS w FROM c),
           |tf AS (
           |  SELECT doc_id, chunk_id, dl, w, COUNT(*) AS tf FROM qt
           |  WHERE w IN ($inList) GROUP BY doc_id, chunk_id, dl, w),
           |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
           |contrib AS (
           |  SELECT tf.doc_id, tf.chunk_id,
           |    CAST(round(ln((stats.n_chunks - df.df + 0.5) / (df.df + 0.5) + 1.0)
           |      * (tf.tf * ${PipelineRetrieval.BM25_K1P1})
           |      / (tf.tf + ${PipelineRetrieval.BM25_K1} * (1.0 - ${PipelineRetrieval.BM25_B} + ${PipelineRetrieval.BM25_B} * tf.dl / stats.avgdl))
           |      * 1000000.0, 0) AS BIGINT) AS c
           |  FROM tf JOIN df USING (w), stats)
           |SELECT doc_id, chunk_id, COUNT(*) AS n_terms,
           |  CAST(SUM(c) AS BIGINT) AS bm25_micro
           |FROM contrib GROUP BY doc_id, chunk_id
           |ORDER BY bm25_micro DESC, doc_id, chunk_id
           |LIMIT 10""".stripMargin
      }) { (s, dir) =>
      val ws = split(lower(col("text")), " ")
      // chunks feed the corpus stats AND the tf explode: persist, one
      // corpus scan + chunking pass (the q85/q88/q99 rule).
      val chunks = T(s, dir, "documents")
        .select(col("doc_id"), ws.as("ws"))
        .withColumn("n", size(col("ws")))
        .withColumn("n_chunks",
          when(col("n") <= ChunkTokens, lit(1L))
            .otherwise((lit(1) + floor((col("n") - ChunkTokens + ChunkStride - 1) / lit(ChunkStride))).cast(LongType)))
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          slice(col("ws"), (col("chunk_id") * ChunkStride + 1).cast(IntegerType), lit(ChunkTokens)).as("toks"))
        .persist()
      val stats = chunks.agg(count(lit(1)).as("n_chunks"), avg(size(col("toks"))).as("avgdl"))
      val tf = chunks
        .select(col("doc_id"), col("chunk_id"), size(col("toks")).as("dl"),
          explode(col("toks")).as("w"))
        .filter(col("w").isin(PipelineRetrieval.BM25_TERMS: _*))
        .groupBy(col("doc_id"), col("chunk_id"), col("dl"), col("w"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val idf = log((col("n_chunks") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
      val norm = col("tf") +
        lit(PipelineRetrieval.BM25_K1) * (lit(1.0) - lit(PipelineRetrieval.BM25_B) +
          lit(PipelineRetrieval.BM25_B) * col("dl") / col("avgdl"))
      val contrib = idf * (col("tf") * lit(PipelineRetrieval.BM25_K1P1)) / norm
      tf.join(broadcast(df), "w")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("chunk_id"),
          round(contrib * lit(1e6), 0).cast(LongType).as("c"))
        .groupBy(col("doc_id"), col("chunk_id"))
        .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("bm25_micro"))
        .orderBy(col("bm25_micro").desc, col("doc_id"), col("chunk_id"))
        .limit(10)
    },

    // ---- q76: duplicate-cluster resolution (connected components) ------
    // Near-dup PAIRS (q41) are not enough for dedup at scale: keep-one
    // needs the transitive closure (a~b, b~c => one canonical of {a,b,c}).
    // Distributed min-label propagation: each round every node takes the
    // min component id among itself and its neighbors — a keyed
    // join + keyed min-agg per round, converging in diameter(component)
    // rounds (bounded, tiny shuffles: only near-dup nodes participate).
    // A global union-find on the driver would serialize 100 TB of pairs;
    // this stays distributed end-to-end. The oracle walks the same edges
    // with a recursive CTE.
    QueryDef(
      "q76_dup_clusters",
      s"""WITH RECURSIVE $dupClusterCte
         |SELECT doc_id, cluster_id FROM comp
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      dupClusterAssign(s, dir).orderBy(col("doc_id"))
    },

    // ---- q77: partition-pruned scan ------------------------------------
    // The scan-reduction counterpart to q65's bucketing: lay events out
    // partitioned by day ONCE (write-once, like the bucketed tables),
    // then every day-ranged query lists only the matching directories —
    // at 100 TB a 7-day query over a 3-year table reads 0.6% of the
    // files instead of filtering 100%. StorageLayoutSpec asserts the
    // scan's PartitionFilters carry the range and no data filter
    // re-checks it.
    QueryDef(
      "q77_partition_pruned",
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val path = ensurePartitionedEvents(s, dir)
      s.read.parquet(path) // partition column `d` inferred as DATE
        .filter(col("d").between(lit("2024-01-08"), lit("2024-01-14")))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("d")).as("n_days"),
          sum(dec(col("value"))).cast(DoubleType).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // ---- q78: incremental (append-mode) dedup --------------------------
    // The production dedup shape: a NEW shard (here sources src0/src1)
    // arrives and must be deduped against the existing corpus WITHOUT
    // re-clustering the corpus — drop batch docs that are exact dups
    // (60-bit text hash) or near-dups (share any MinHash LSH band) of a
    // corpus doc. Both checks are anti-joins keyed on derived hashes:
    // the corpus side shuffles 8-byte keys once, the batch (small) side
    // rides along — never all-pairs, and corpus-vs-corpus pairs are
    // never generated at all.
    QueryDef(
      "q78_incremental_dedup",
      s"""WITH $minhashBandsCte,
         |th AS (
         |  SELECT doc_id, source, n_chars,
         |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS th
         |  FROM documents),
         |batch AS (SELECT * FROM th WHERE source IN ('src0', 'src1')),
         |corpus AS (SELECT * FROM th WHERE source NOT IN ('src0', 'src1')),
         |band_matched AS (
         |  SELECT DISTINCT ba.doc_id
         |  FROM bands ba
         |  JOIN batch t ON t.doc_id = ba.doc_id
         |  JOIN bands bc ON ba.band = bc.band AND ba.key = bc.key
         |  JOIN corpus c2 ON c2.doc_id = bc.doc_id)
         |SELECT b.doc_id, b.source, b.n_chars
         |FROM batch b
         |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.th = b.th)
         |  AND NOT EXISTS (SELECT 1 FROM band_matched m WHERE m.doc_id = b.doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val isNew = col("source").isin("src0", "src1")
      // One pass computes both dedup keys; persisted because batch and
      // corpus splits each feed two joins (see q41/q45 note).
      val hashed = T(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          conv(substring(md5(col("text")), 1, 15), 16, 10).cast(LongType).as("th"),
          expr("graft_minhash_sig(text)").as("sig"),
          isNew.as("is_new"))
        .persist()
      val batch = hashed.filter(col("is_new"))
      val corpus = hashed.filter(!col("is_new"))
      def bandRows(df: DataFrame): DataFrame =
        df.filter(col("sig").isNotNull).select(col("doc_id"),
          expr(bandPairs.zipWithIndex.map { case ((x, y), j) =>
            s"$j, concat(sig[$x], '_', sig[$y])"
          }.mkString(s"stack(${bandPairs.size}, ", ", ", ") as (band, key)")))
      val nearMatched = bandRows(batch).as("a")
        .join(bandRows(corpus).as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key"),
          "left_semi")
        .select(col("doc_id")).distinct()
      batch
        .join(corpus.select(col("th")), Seq("th"), "left_anti")
        .join(nearMatched, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // ---- q79: Bloom-pruned decontamination -----------------------------
    // q57's scale path for when the benchmark shingle SET is too big to
    // broadcast as a hash relation: fold it into a fixed-size Bloom
    // bitmap (2^16 bits = 8 KB here, constant no matter how many
    // shingles) built with builtin aggregates (bit_or over per-probe
    // masks), broadcast THAT, and test membership map-side with pure
    // codegen arithmetic (xxhash64 + element_at — no UDF, no join per
    // probe). False positives are then killed by an exact semi-join
    // that only the tiny candidate set has to pay for — so the result
    // is hash-identical to the exact oracle while the corpus-side
    // shuffle shrinks by ~the contamination rate. Same trick as
    // Spark's own runtime bloom-filter join, applied as an explicit
    // operator.
    QueryDef(
      "q79_bloom_decontaminate",
      """WITH words AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS h
        |  FROM words, unnest(generate_series(1, len(ws)-2)) AS u(i)
        |  WHERE len(ws) >= 3),
        |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0)
        |SELECT doc_id, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_hits
        |FROM sh
        |WHERE doc_id % 50 <> 0 AND h IN (SELECT h FROM bench)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val sh = T(s, dir, "documents")
        .select(col("doc_id"), explode(expr("graft_shingle_hashes(text)")).as("h"))
      // Persisted: feeds both the bloom build and the exact confirm —
      // without the cache the benchmark scan + shingle kernel runs twice.
      val benchH = sh.filter(col("doc_id") % 50 === 0).select(col("h")).distinct()
        .persist()
      def probe(i: Int): Column =
        pmod(xxhash64(lit(i), col("h")), lit(BloomBits.toLong))
      // Build: k bit positions per benchmark shingle -> (word, mask) ->
      // bit_or per 64-bit word -> ONE row holding the sparse bitmap.
      val bloomMap = benchH
        .select(explode(array((0 until BloomProbes).map(probe): _*)).as("pos"))
        .select(shiftrightunsigned(col("pos"), 6).as("w"),
          call_function("shiftleft", lit(1L),
            col("pos").bitwiseAND(63L).cast(IntegerType)).as("m"))
        .groupBy(col("w")).agg(expr("bit_or(m)").as("bits"))
        .agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("bmap"))
      // Probe: all k membership tests inline per row (1-row broadcast of
      // the bitmap; whitelisted in PlanAuditSpec like q56's corpus count).
      val mightContain = (0 until BloomProbes).map { i =>
        val pos = probe(i)
        val m = call_function("shiftleft", lit(1L),
          pos.bitwiseAND(63L).cast(IntegerType))
        coalesce(element_at(col("bmap"), shiftrightunsigned(pos, 6)), lit(0L))
          .bitwiseAND(m) =!= lit(0L)
      }.reduce(_ && _)
      val candidates = sh.filter(col("doc_id") % 50 =!= 0)
        .crossJoin(broadcast(bloomMap))
        .filter(mightContain)
        .select(col("doc_id"), col("h")).distinct()
      // Exact confirm — deliberately a SHUFFLE semi-join (the scenario
      // being modeled is a bench set too large to broadcast); only the
      // bloom-surviving candidates pay it.
      candidates
        .join(benchH.hint("shuffle_hash"), Seq("h"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    },

    // ---- q81: salt-replicated skew join ---------------------------------
    // q33's pattern extended from aggregation to JOIN — the fix when the
    // FACT side's join key is skewed and the dim side is mid-sized: too
    // big to broadcast, small enough to replicate SALT_N times. Fact rows
    // spread over (key, salt); every dim row is cloned once per salt; the
    // join keys on (key, salt) so each former hot partition splits into
    // SALT_N even ones. Same rows as the plain join (the oracle), a
    // shuffle profile with no stragglers. (AQE's skewedJoin does this
    // adaptively for sort-merge joins; the explicit salt is the general,
    // planner-independent tool — e.g. for deterministic co-partitioning
    // with a later stage.)
    QueryDef(
      "q81_skew_salted_join",
      """SELECT c.c_mktsegment, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val saltN = 16
      val fact = T(s, dir, "events")
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(saltN)).cast(IntegerType))
      val dim = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .withColumn("salt", explode(array((0 until saltN).map(lit): _*)))
        // pin the shuffle join: at fixture scale Spark would broadcast the
        // replicated dim and hide the salted-exchange profile under test
        .hint("shuffle_hash")
      fact.join(dim,
          fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast(DoubleType).as("sum_value"))
        .orderBy(col("c_mktsegment"))
    },

    // ---- q88: cohort retention ------------------------------------------
    // The standard retention matrix: users grouped by first-activity day
    // (cohort), counted on each later active day. Two keyed aggregates
    // (first-day per user; distinct user-days) and one equi-join on
    // user_id — every shuffle is keyed by user, no window, no all-pairs.
    // Cohort emitted as its ISO string so the hash compare never touches
    // engine-specific DATE encodings; the offset is integer days.
    QueryDef(
      "q88_cohort_retention",
      """WITH f AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort FROM events GROUP BY user_id),
        |a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT CAST(f.cohort AS VARCHAR) AS cohort,
        |  CAST(a.d - f.cohort AS BIGINT) AS day_offset,
        |  COUNT(*) AS n_active
        |FROM a JOIN f USING (user_id)
        |WHERE a.d - f.cohort <= 7
        |GROUP BY f.cohort, day_offset
        |ORDER BY cohort, day_offset""".stripMargin) { (s, dir) =>
      // Persisted: the (user_id, day) projection feeds BOTH aggregates
      // (first-day per user and distinct user-days) — without the cache
      // the events corpus is scanned twice, a full extra pass at 100 TB.
      // Cache-lifetime policy: see q41 in Pipeline.scala.
      val ev = T(s, dir, "events").select(col("user_id"), to_date(col("ts")).as("d"))
        .persist()
      val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
      val active = ev.distinct()
      active.join(first, "user_id")
        .withColumn("day_offset", datediff(col("d"), col("cohort")).cast(LongType))
        .filter(col("day_offset") <= 7)
        .groupBy(col("cohort"), col("day_offset"))
        .agg(count(lit(1)).as("n_active"))
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("day_offset"), col("n_active"))
        .orderBy(col("cohort"), col("day_offset"))
    },

    // ---- q86: funnel analysis -------------------------------------------
    // Ordered-sequence conversion (view -> click after it -> purchase
    // after that) per user-day. Spark side does it in ONE keyed shuffle:
    // collect the (tsec, type) pairs per group and walk the funnel with
    // array higher-order functions (filter/transform/array_min are
    // codegen'd; each stage's lambda references the previous stage's
    // timestamp, and a missing stage nulls the cascade). The oracle
    // takes the engine-appropriate 3-level aggregate-join form — same
    // semantics, hash-identical output; all arithmetic is integer
    // seconds.
    QueryDef(
      "q86_funnel",
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_type
        |  FROM events),
        |s1 AS (
        |  SELECT user_id, d, MIN(CASE WHEN event_type = 'view' THEN tsec END) AS t1
        |  FROM e GROUP BY user_id, d),
        |s2 AS (
        |  SELECT e.user_id, e.d, MAX(s1.t1) AS t1,
        |    MIN(CASE WHEN e.event_type = 'click' AND e.tsec > s1.t1 THEN e.tsec END) AS t2
        |  FROM e JOIN s1 ON e.user_id = s1.user_id AND e.d = s1.d
        |  GROUP BY e.user_id, e.d),
        |s3 AS (
        |  SELECT e.user_id, e.d,
        |    MIN(CASE WHEN e.event_type = 'purchase' AND e.tsec > s2.t2 THEN e.tsec END) AS t3,
        |    MAX(s2.t1) AS t1, MAX(s2.t2) AS t2
        |  FROM e JOIN s2 ON e.user_id = s2.user_id AND e.d = s2.d
        |  GROUP BY e.user_id, e.d)
        |SELECT CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage,
        |  COUNT(*) AS n_user_days
        |FROM s3 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      T(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"),
          unix_timestamp(col("ts")).as("tsec"), col("event_type"))
        .groupBy(col("user_id"), col("d"))
        .agg(collect_list(struct(col("tsec"), col("event_type"))).as("evs"))
        .withColumn("t1", expr(
          "array_min(transform(filter(evs, x -> x.event_type = 'view'), x -> x.tsec))"))
        .withColumn("t2", expr(
          "array_min(transform(filter(evs, x -> x.event_type = 'click' AND x.tsec > t1), x -> x.tsec))"))
        .withColumn("t3", expr(
          "array_min(transform(filter(evs, x -> x.event_type = 'purchase' AND x.tsec > t2), x -> x.tsec))"))
        .select(
          when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1).otherwise(0).as("stage"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_user_days"))
        .orderBy(col("stage"))
    },

    // ---- q84: range (interval) join -------------------------------------
    // Events joined into 1-hour "incident" windows opened by same-user
    // error events. A naive inequality join is a BroadcastNestedLoopJoin
    // — the classic range-join scale killer. The 100 TB shape: bucket
    // both sides by hour (a 1-h window covers <= 2 hour buckets, so the
    // build side at most doubles), EQUI-join on (user, bucket), then
    // apply the exact range predicate. Every downstream engine trick
    // (hash join, AQE, codegen) applies because the join is an equi-join;
    // the out-of-bucket false candidates die in the residual filter.
    QueryDef(
      "q84_range_join",
      """SELECT e.event_type, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT e.event_id) AS n_events
        |FROM events e JOIN events i
        |  ON i.event_type = 'error' AND e.user_id = i.user_id
        |  AND e.ts >= i.ts AND e.ts < i.ts + INTERVAL 1 HOUR
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin) { (s, dir) =>
      val ev = T(s, dir, "events")
      val hourOf = (c: Column) => floor(unix_timestamp(c) / 3600)
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("iu"), col("ts").as("istart"),
          (col("ts") + expr("interval 1 hour")).as("iend"))
      // An [istart, istart+1h) window touches hour buckets h and h+1;
      // when istart is exactly on the hour the h+1 clone matches nothing
      // (its events have ts >= iend) and the residual filter removes it.
      val ibk = incidents.withColumn("ibk",
        explode(array(hourOf(col("istart")), hourOf(col("istart")) + 1)))
      val ebk = ev.withColumn("ebk", hourOf(col("ts")))
      ebk.join(ibk,
          ebk("user_id") === ibk("iu") && ebk("ebk") === ibk("ibk")
            && col("ts") >= col("istart") && col("ts") < col("iend"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_pairs"),
          countDistinct(col("event_id")).as("n_events"))
        .orderBy(col("event_type"))
    },

    // ---- q85: count-min-sketch heavy hitters ----------------------------
    // Frequency member of the sketch trio (q79 bloom = membership,
    // q83 HLL = cardinality): find words above 0.5% of all tokens
    // WITHOUT shuffling the full vocabulary. Pass 1 aggregates d x w
    // bounded CMS cells (3 x 4096 keys — fixed, vocabulary-independent)
    // and broadcasts them as one nested map; pass 2 estimates per
    // occurrence map-side (CMS only OVERestimates, so candidates are a
    // guaranteed superset of the true heavy hitters) and only candidate
    // occurrences reach the exact groupBy — at 100 TB the shuffle
    // carries the few hot words, not the long-tail vocabulary. The
    // exact confirm makes the output hash-identical to the plain
    // frequency oracle.
    QueryDef(
      "q85_cms_heavy_hitters",
      """WITH w AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
        |ww AS (SELECT w FROM w WHERE w <> ''),
        |tot AS (SELECT COUNT(*) AS n FROM ww)
        |SELECT w AS word, COUNT(*) AS cnt
        |FROM ww GROUP BY w
        |HAVING COUNT(*) * 200 >= (SELECT n FROM tot)
        |ORDER BY word""".stripMargin) { (s, dir) =>
      val cmsD = 3
      val cmsW = 4096L
      // Persisted: the exploded token frame feeds THREE consumers (the
      // total count, the CMS build, and the candidate filter) — without
      // the cache each is a separate pass over the documents corpus, so
      // at 100 TB the query pays 3 full scans + 3 tokenize kernels.
      // Cache-lifetime policy: see q41 in Pipeline.scala.
      val toks = T(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .persist()
      val total = toks.agg(count(lit(1)).as("n"))
      def cell(j: Int): Column = pmod(xxhash64(lit(j), col("w")), lit(cmsW))
      val cms = toks
        .select(explode(array((0 until cmsD).map(j =>
          struct(lit(j).as("r"), cell(j).as("c"))): _*)).as("p"))
        .groupBy(col("p.r").as("r"), col("p.c").as("c"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("r"))
        .agg(map_from_entries(collect_list(struct(col("c"), col("cnt")))).as("m"))
        .agg(map_from_entries(collect_list(struct(col("r"), col("m")))).as("cms"))
      val est = (0 until cmsD)
        .map(j => coalesce(
          element_at(element_at(col("cms"), lit(j)), cell(j)), lit(0L)))
        .reduce(least(_, _))
      // All occurrences of a word share its estimate, so the candidate
      // set is exactly "every occurrence of every candidate word" — the
      // exact counts below are therefore true counts, and the final
      // threshold re-check removes CMS false positives.
      val cand = toks
        .crossJoin(broadcast(cms)).crossJoin(broadcast(total))
        .filter(est * 200 >= col("n"))
        .select(col("w"))
      cand.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * 200 >= col("n"))
        .select(col("w").as("word"), col("cnt"))
        .orderBy(col("word"))
    },

    // ---- q83: mergeable HLL distinct-count sketches ---------------------
    // The incremental-analytics pattern exact COUNT(DISTINCT) can't do:
    // build a fixed-size HLL sketch per group (datasketches via Spark's
    // hll_sketch_agg), then UNION the sketches — the corpus-wide
    // distinct estimate comes from merging kilobyte sketches, never
    // re-scanning raw rows. At 100 TB: per-partition/per-day sketches
    // persist with the data; every rollup is a map-side merge. No DuckDB
    // oracle (estimates are datasketches-specific): driver records the
    // rows-only check; AnalyticsSpec pins a <=5% error bound against the
    // exact count AND that the merged estimate equals the sketch built
    // over the raw rows directly (lossless union at equal lgK).
    QueryDef.noOracle("q83_hll_mergeable") { (s, dir) =>
      val perType = T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val per = perType.select(col("event_type"),
        expr("hll_sketch_estimate(sk)").as("est_users"))
      val all = perType
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est_users"))
        .select(lit("ALL").as("event_type"), col("est_users"))
      per.unionByName(all).orderBy(col("event_type"))
    },

    // ---- q89: deterministic k-per-group sample ---------------------------
    // The "balanced training mix" primitive: exactly k documents per
    // class, selected uniformly-at-"random" but reproducibly — rank by a
    // cross-engine-stable 60-bit md5 of the doc id inside each group.
    // Spark 4's InferWindowGroupLimit turns the rank<=k filter into a
    // WindowGroupLimit below the exchange: each map task keeps a k-row
    // heap per group, so the shuffle carries O(k * groups) rows, not the
    // corpus — the difference between sampling 100 TB and sorting it
    // (plan pinned in PlanAuditSpec).
    QueryDef(
      "q89_group_sample",
      """WITH h AS (
        |  SELECT doc_id, lang, n_chars,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hk
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
        |  FROM h)
        |SELECT lang, doc_id, n_chars FROM r WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
      val k = 5
      val w = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
            .cast(LongType).as("hk"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // ---- q90: mergeable quantile sketch ----------------------------------
    // Completes the sketch trio's missing member (q79 bloom = membership,
    // q83 HLL = cardinality, q85 CMS = frequency): QUANTILES from a
    // fixed-size mergeable histogram. Buckets are log2-ranged with 16
    // linear sub-buckets — computed entirely in INTEGER arithmetic
    // (length(bin(x)) is floor(log2 x)+1 exactly; no float log whose
    // last-ulp could flip a boundary bucket between engines), so unlike
    // q26/q83 this sketch is fully oracle-paired: counts are exact and
    // hash-identical, and the p50/p90/p99 bucket picks use the integer
    // cross-multiplied form (2*cum >= n), never a float threshold.
    // Merge = count addition (shard-split pin in AnalyticsSpec); relative
    // bucket width 1/16 bounds the value error at ~6.25%.
    QueryDef(
      "q90_quantile_sketch",
      """WITH b AS (
        |  SELECT lang,
        |    16 * length(bin(n_chars)) + ((n_chars - (1::BIGINT << (length(bin(n_chars)) - 1))) * 16)
        |      // (1::BIGINT << (length(bin(n_chars)) - 1)) AS bucket
        |  FROM documents WHERE n_chars >= 1),
        |c AS (SELECT lang, bucket, COUNT(*) AS cnt FROM b GROUP BY lang, bucket),
        |cum AS (
        |  SELECT lang, bucket, cnt,
        |    SUM(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
        |    SUM(cnt) OVER (PARTITION BY lang) AS n
        |  FROM c)
        |SELECT lang, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN 2 * cum >= n THEN bucket END) AS BIGINT) AS b50,
        |  CAST(MIN(CASE WHEN 10 * cum >= 9 * n THEN bucket END) AS BIGINT) AS b90,
        |  CAST(MIN(CASE WHEN 100 * cum >= 99 * n THEN bucket END) AS BIGINT) AS b99
        |FROM cum GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      val sketch = quantileSketch(T(s, dir, "documents"))
      val wc = Window.partitionBy(col("lang")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(col("lang"))
      sketch
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n", sum(col("cnt")).over(wn))
        .groupBy(col("lang"))
        .agg(
          max(col("n")).as("n"),
          min(when(col("cum") * 2 >= col("n"), col("bucket"))).as("b50"),
          min(when(col("cum") * 10 >= col("n") * 9, col("bucket"))).as("b90"),
          min(when(col("cum") * 100 >= col("n") * 99, col("bucket"))).as("b99"))
        .orderBy(col("lang"))
    },

    // ---- q82: schema-evolution read ------------------------------------
    // Long-lived corpora are written by MANY pipeline versions; columns
    // appear over time. mergeSchema unions the per-file footers at scan
    // time — old shards surface the new column as NULL, no rewrite of
    // petabytes of v1 files. The aggregate distinguishes "absent" from
    // "zero", which is exactly what the evolution must preserve.
    QueryDef(
      "q82_schema_evolution",
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN len(source) = 5 THEN 1 END) AS n_with_quality,
        |  CAST(SUM(CASE WHEN len(source) = 5 THEN n_chars % 100 END) AS BIGINT) AS sum_quality
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      val root = ensureEvolvedShards(s, dir)
      s.read.option("mergeSchema", "true").parquet(s"$root/v1", s"$root/v2")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("quality")).as("n_with_quality"),
          sum(col("quality")).as("sum_quality"))
        .orderBy(col("lang"))
    },

    // ---- q93: distributed k-means over embeddings (2 Lloyd rounds) -------
    // The embedding-clustering primitive behind semantic dedup / corpus
    // curation. The 100 TB shape is MLlib's, expressed declaratively:
    //   - assignment is SCAN-LOCAL — all K centroids ride to every row in
    //     one broadcast row (K×64 doubles, kilobytes at any corpus size)
    //     and the argmin is a fold over that array; no shuffle, no N×K
    //     exploded join;
    //   - the mean update is the ONLY shuffle per round, and partial
    //     aggregation collapses it to K×64 (sum,count) cells per map task
    //     regardless of corpus size (posexplode is scan-local, the
    //     exchange carries cells, not vectors).
    // Cross-engine determinism: round-1 centroids are exact float→double
    // casts; updated centroids are round(avg,6) so round 2 assigns from
    // bit-identical inputs in both engines; ties break to the lowest
    // centroid id (strict < in the fold ≡ ROW_NUMBER ORDER BY d, cid);
    // the output is integer-only (cluster sizes per label).
    QueryDef(
      "q93_kmeans_assign",
      s"""WITH $kmeansAssignCte
         |SELECT a2.cid AS cluster_id, e.label, COUNT(*) AS n
         |FROM a2 JOIN embeddings e USING (vec_id)
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val e = T(s, dir, "embeddings").select(
        col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      Kmeans.twoRoundAssign(e)
        .groupBy(col("cluster_id"), col("label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("cluster_id"), col("label"))
    },

    // ---- q94: z-order (Morton) layout key -------------------------------
    // Multi-dimensional data layout: interleave the bits of two 16-bit
    // dimensions so that sorting by ONE key co-locates rows that are close
    // in BOTH — the clustering trick behind Delta/Iceberg OPTIMIZE ZORDER.
    // Written z-sorted, parquet row-group min/max stats then prune range
    // predicates on either dimension (a plain sort prunes only its leading
    // column). Everything is integer bit arithmetic (the classic
    // spread-with-masks construction), so the bucket profile below —
    // per-bucket count and the (x, y) tile it covers — is hash-exact
    // across engines, and the tight min/max spans ARE the locality proof.
    QueryDef(
      "q94_zorder_layout",
      """WITH d AS (
        |  SELECT n_chars AS x, doc_id % 65536 AS y FROM documents),
        |s1 AS (
        |  SELECT x, y,
        |    ((x | (x << 8)) & 16711935) AS a,
        |    ((y | (y << 8)) & 16711935) AS b
        |  FROM d),
        |s2 AS (
        |  SELECT x, y,
        |    ((a | (a << 4)) & 252645135) AS a,
        |    ((b | (b << 4)) & 252645135) AS b
        |  FROM s1),
        |s3 AS (
        |  SELECT x, y,
        |    ((a | (a << 2)) & 858993459) AS a,
        |    ((b | (b << 2)) & 858993459) AS b
        |  FROM s2),
        |s4 AS (
        |  SELECT x, y,
        |    ((a | (a << 1)) & 1431655765) AS a,
        |    ((b | (b << 1)) & 1431655765) AS b
        |  FROM s3),
        |z AS (SELECT x, y, (a | (b << 1)) AS zv FROM s4)
        |SELECT (zv >> 16) AS z_bucket, COUNT(*) AS n,
        |  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
        |FROM z
        |GROUP BY 1
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      val d = T(s, dir, "documents").select(
        col("n_chars").as("x"), (col("doc_id") % 65536).as("y"))
      d.select(col("x"), col("y"), zValue(col("x"), col("y")).as("zv"))
        .groupBy(shiftright(col("zv"), 16).as("z_bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("z_bucket"))
    },

    // ---- q100: semantic dedup (the SemDeDup shape: cluster, then dedup
    // WITHIN clusters). Embedding near-dups are found by k-means-cell
    // bucketing — exact cosine runs only among members of the same cell,
    // never across the corpus. At 100 TB: assignment is the scan-local
    // Kmeans fold (one broadcast centroid row), the pair join is keyed on
    // cluster_id (cell sizes bound the quadratic term — production would
    // raise K so cells stay O(10^3-10^4)), and the kept-rule is
    // deterministic: a vector is dropped iff a LOWER-vec_id cell-mate is
    // within the cosine threshold. Output: per-cell keep/drop profile. ----
    QueryDef("q100_semantic_dedup", semanticDedupOracle) { (s, dir) =>
      semanticDedupAt(s, dir, 8) // K=8 is what the oracle CTE pins
    },

    // ---- q109: product quantization — the other half of FAISS-style
    // IVFPQ next to q55's coarse cells. Vectors split into PQ_M
    // subvectors; each subvector ENCODES to the id of its nearest
    // codebook entry (codebooks here are the deterministic seed
    // subvectors — production trains them with the q93 Lloyd kernel);
    // the query builds a PQ_M×PQ_K lookup table of partial distances
    // ONCE and every vector's asymmetric distance is then PQ_M table
    // lookups summed — no full-dimension arithmetic per candidate.
    // The 100 TB shape: codes compress 64 doubles to PQ_M bytes
    // (memory-resident at billions of vectors), encode is one scan with
    // a kilobyte broadcast codebook (equi-join on m, hash not BNLJ),
    // scoring shuffles only (vec_id, code) pairs, and top-10 is a
    // TakeOrdered. Determinism: subvector distances are the q93 fold,
    // argmin ties break to the lowest code id, final rank on the
    // ROUNDED adc with vec_id tie-break. ----
    // ---- q113: the VARIANT type (Spark 4's semi-structured flagship) —
    // props parses ONCE into a binary variant and typed extraction runs
    // on that, not on re-parsed JSON strings (q68's get_json_object
    // re-parses per path — variant is the 100 TB answer when many paths
    // read the same document). A missing path extracts as NULL, pinned
    // alongside the present-path aggregate. ----
    QueryDef(
      "q113_variant",
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    json_extract_string(props, '$.missing') AS miss
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(COUNT(*) - COUNT(miss) AS BIGINT) AS n_missing
        |FROM e GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      T(s, dir, "events")
        .withColumn("v", expr("parse_json(props)"))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'bigint')").as("k"),
          expr("variant_get(v, '$.missing', 'string')").as("miss"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          (count(lit(1)) - count(col("miss"))).as("n_missing"))
        .orderBy(col("event_type"))
    },

    QueryDef("q109_pq_ann", pqAnnOracle) { (s, dir) =>
      // (vec_id, label, m, sub): scan-local subvector slices. Fresh load
      // per use-site keeps self-join lineage unambiguous; the cb/query
      // scans prune to <= PQ_K+1 rows via the pushed vec_id filter.
      def subv(df: DataFrame) = df
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
        .select(col("vec_id"), col("label"),
          explode(expr(
            s"transform(sequence(0, ${PQ_M - 1}), " +
              s"m -> struct(m AS m, slice(v, m * $PQ_SUB + 1, $PQ_SUB) AS sub))")).as("ms"))
        .select(col("vec_id"), col("label"), col("ms.m").as("m"), col("ms.sub").as("sub"))
      val cb = subv(T(s, dir, "embeddings").filter(col("vec_id").between(1, PQ_K)))
        .select(col("m"), col("vec_id").as("c"), col("sub").as("csub"))
      // Round 22 (guide §2.3/§2.4): argmin as a min_by aggregate — the
      // map-side partials collapse each (vector, m)'s PQ_K scored rows
      // before the exchange (PQ_M rows per vector instead of
      // PQ_M x PQ_K) and the per-key sort disappears. min_by on
      // struct(d, c) picks the IDENTICAL row as row_number over
      // (d ASC, c ASC): lexicographic struct order, c unique per group.
      val codes = subv(T(s, dir, "embeddings").filter(col("vec_id") =!= 0))
        .join(broadcast(cb), "m")
        .select(col("vec_id"), col("label"), col("m"), col("c"),
          Kmeans.dist2(col("sub"), col("csub")).as("d"))
        .groupBy(col("vec_id"), col("label"), col("m"))
        .agg(min_by(col("c"), struct(col("d"), col("c"))).as("code"))
        .select(col("vec_id"), col("label"), col("m"), col("code"))
      val lut = subv(T(s, dir, "embeddings").filter(col("vec_id") === 0))
        .join(broadcast(cb), "m")
        .select(col("m"), col("c"), Kmeans.dist2(col("sub"), col("csub")).as("ld"))
      codes.join(broadcast(lut), codes("m") === lut("m") && codes("code") === lut("c"))
        .groupBy(col("vec_id"), col("label"))
        .agg(round(sum(col("ld")), 6).as("adc_r"))
        .orderBy(col("adc_r"), col("vec_id"))
        .limit(10)
    },

    // ---- q121: coreset / diversity selection — the "train on less,
    // cover the same distribution" curation step (herding / k-center
    // style): cluster the corpus with the SHARED q93 Lloyd kernel, then
    // keep each cell's 2 most-central vectors as its representatives. A
    // top-quality-only filter collapses onto the densest modes; picking
    // per-cell medoid-ish representatives keeps every mode covered. The
    // 100 TB shape: assignment is the scan-local broadcast-fold (no
    // shuffle), and the per-cell cut is a row_number<=k over K cells —
    // a partial WindowGroupLimit ships at most 2 rows per cell per map
    // task, so the output is K x 2 rows at any corpus size (production
    // raises K with the corpus, the q100 rule). Determinism: distances
    // are the q93 fold (the proven SUM-unnest equivalence), ranked on
    // the ROUNDED distance with vec_id tie-break. ----
    QueryDef(
      "q121_coreset_sample",
      s"""WITH $kmeansAssignCte,
         |a2d AS (
         |  SELECT vec_id, cid, d FROM (
         |    SELECT vec_id, cid, d,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM d2) WHERE rn = 1),
         |r AS (
         |  SELECT cid AS cluster_id, vec_id, round(d, 6) AS d2_r,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY cid ORDER BY round(d, 6), vec_id) AS rk
         |  FROM a2d)
         |SELECT cluster_id, rk, vec_id, d2_r
         |FROM r WHERE rk <= 2
         |ORDER BY cluster_id, rk""".stripMargin) { (s, dir) =>
      val e = T(s, dir, "embeddings").select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      val wCell = Window.partitionBy(col("cluster_id"))
        .orderBy(col("d2_r"), col("vec_id"))
      Kmeans.twoRoundAssign(e)
        .select(col("cluster_id"), col("vec_id"),
          round(col("cluster_d2"), 6).as("d2_r"))
        .withColumn("rk", row_number().over(wCell))
        .filter(col("rk") <= 2)
        .select(col("cluster_id"), col("rk"), col("vec_id"), col("d2_r"))
        .orderBy(col("cluster_id"), col("rk"))
    },

    // ---- q125: canonical-keep dedup — the step AFTER q76's transitive
    // closure: real pipelines don't keep an arbitrary cluster member,
    // they keep the BEST one (here: longest text, doc_id tie-break — the
    // keep-longest rule common in crawl dedup) and account for what the
    // collapse removes. Reuses q76's propagation verbatim
    // (dupClusterAssign — one kernel, no drift). 100 TB shape: the
    // cluster frame holds near-dup nodes only (tiny vs the corpus), the
    // doc-stats join is keyed on doc_id, the representative pick is a
    // partial WindowGroupLimit (1 row per cluster per map task), and the
    // rollup is keyed on cluster_id. Output: one row per duplicate
    // cluster. ----
    QueryDef(
      "q125_canonical_keep",
      s"""WITH RECURSIVE $dupClusterCte,
         |m AS (
         |  SELECT c.cluster_id, c.doc_id, d.n_chars
         |  FROM comp c JOIN documents d USING (doc_id)),
         |r AS (
         |  SELECT cluster_id, doc_id, n_chars,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM m),
         |a AS (
         |  SELECT cluster_id, COUNT(*) AS n_members, SUM(n_chars) AS sum_chars
         |  FROM m GROUP BY 1)
         |SELECT a.cluster_id, r.doc_id AS canonical_doc,
         |  r.n_chars AS canonical_chars, a.n_members,
         |  a.n_members - 1 AS n_dropped,
         |  CAST(a.sum_chars - r.n_chars AS BIGINT) AS chars_dropped
         |FROM a JOIN r ON a.cluster_id = r.cluster_id AND r.rk = 1
         |ORDER BY a.cluster_id""".stripMargin) { (s, dir) =>
      // Two consumers (representative pick + rollup): persist — though
      // the propagation output is already a checkpointed leaf, the
      // doc-stats join should still run once.
      val members = dupClusterAssign(s, dir)
        .join(T(s, dir, "documents").select(col("doc_id"), col("n_chars")), "doc_id")
        .persist()
      val wc = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val canon = members
        .withColumn("rk", row_number().over(wc)).filter(col("rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("canonical_doc"),
          col("n_chars").as("canonical_chars"))
      val agg = members.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"), sum(col("n_chars")).as("sum_chars"))
      agg.join(canon, Seq("cluster_id"))
        .select(col("cluster_id"), col("canonical_doc"), col("canonical_chars"),
          col("n_members"), (col("n_members") - 1).as("n_dropped"),
          (col("sum_chars") - col("canonical_chars")).as("chars_dropped"))
        .orderBy(col("cluster_id"))
    },

    // ---- q127: nearest-centroid classification — the supervised probe
    // over the embedding space (the fastText-style quality-classifier
    // inference step, FineWeb-Edu shape: score every document against a
    // tiny trained model and keep/drop by the prediction). Train: per-
    // label mean vector over the vec_id%5!=0 split, round(avg,6) — the
    // exact q93 m1 centroid rule, so both engines assign from
    // bit-identical centroids. Classify: held-out vectors take the
    // argmin-L2 label via the SHARED Kmeans fold kernel (strict < keeps
    // the lowest label on ties ≡ ROW_NUMBER ORDER BY d, label). Output
    // is the label confusion matrix — all-integer, hash-exact. NOTE the
    // fixture's labels are independent of its vectors, so accuracy here
    // is the 1/K null baseline; AnalyticsSpec proves the classifier on
    // vectors that actually cluster by label. 100 TB shape: the model is
    // #labels x dims -> one broadcast row; assignment is the scan-local
    // fold (zero shuffle); the matrix rollup is one map-side partial
    // agg to <= #labels^2 rows. The centroid build is the same partial
    // (sum,count)-per-cell exchange as q93. ----
    QueryDef(
      "q127_nearest_centroid",
      """WITH dims AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
        |         unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |cent AS (
        |  SELECT label AS clabel, pos, round(AVG(x), 6) AS y
        |  FROM dims WHERE vec_id % 5 <> 0 GROUP BY 1, 2),
        |d AS (
        |  SELECT dims.vec_id, dims.label, cent.clabel,
        |         SUM((dims.x - cent.y) * (dims.x - cent.y)) AS d
        |  FROM dims JOIN cent ON dims.pos = cent.pos
        |  WHERE dims.vec_id % 5 = 0 GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT label, clabel FROM (
        |    SELECT label, clabel,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
        |    FROM d) WHERE rn = 1)
        |SELECT CAST(label AS BIGINT) AS actual_label,
        |  CAST(clabel AS BIGINT) AS pred_label, COUNT(*) AS n_vecs
        |FROM pred GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val e = T(s, dir, "embeddings").select(
        col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      val model = Kmeans.centroidRow(
        e.filter(col("vec_id") % 5 =!= 0)
          .select(col("label").cast(LongType).as("cid"),
            posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cid"), col("pos"))
          .agg(round(avg(col("x")), 6).as("y"))
          .groupBy(col("cid"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("y")))),
            p => p.getField("y")).as("ce")))
      e.filter(col("vec_id") % 5 === 0)
        .crossJoin(broadcast(model))
        .select(col("label").cast(LongType).as("actual_label"),
          Kmeans.assign(col("v"), col("cents")).as("pred_label"))
        .groupBy(col("actual_label"), col("pred_label"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("actual_label"), col("pred_label"))
    },

    // ---- q128: PageRank over the customer-nation -> supplier-nation
    // trade graph — the iterative graph-quality primitive (Common Crawl
    // pipelines rank DOMAINS by host-graph PageRank and use it as a
    // quality prior; q76's label propagation covers reachability, this
    // covers stationary mass). Edge (src, dst, w) = lineitems whose
    // order's customer sits in src and supplier in dst; 3 unrolled
    // power-iteration rounds with damping 0.85. Cross-engine exactness:
    // PageRank is all divisions, so everything runs in int64 micro
    // units — per-edge flow is (pr*850000*w) DIV (1000000*outw), an
    // integer in both engines, and integer sums are order-free (no
    // float association drift; products stay < 2^63 at any sf: pr sums
    // to #nodes x 1e6, w <= corpus rows). Dangling nodes simply leak
    // their mass (the standard simplification). 100 TB shape: the edge
    // build is the canonical fact-table join (dims broadcast, one keyed
    // shuffle of lineitem), aggregated once to <= #nations^2 rows and
    // persisted across rounds; each round is an equi-join + keyed
    // groupBy on dst — at web scale (nodes = domains) the same plan is
    // the production shape with edges hash-partitioned on src and q76's
    // localCheckpoint lineage rule for deeper iteration; the final
    // global rank window orders #nodes rows, never corpus rows. ----
    QueryDef(
      "q128_pagerank",
      """WITH edges AS (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |outd AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY 1),
        |e AS (
        |  SELECT edges.src, edges.dst, edges.w, outd.outw
        |  FROM edges JOIN outd USING (src)),
        |pr0 AS (
        |  SELECT n_nationkey AS node, CAST(1000000 AS BIGINT) AS pr FROM nation),
        |pr1 AS (
        |  SELECT n.node, CAST(150000 + COALESCE(
        |      SUM((p.pr * 850000 * e.w) // (1000000 * e.outw)), 0) AS BIGINT) AS pr
        |  FROM pr0 n
        |  LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN pr0 p ON p.node = e.src
        |  GROUP BY n.node),
        |pr2 AS (
        |  SELECT n.node, CAST(150000 + COALESCE(
        |      SUM((p.pr * 850000 * e.w) // (1000000 * e.outw)), 0) AS BIGINT) AS pr
        |  FROM pr1 n
        |  LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN pr1 p ON p.node = e.src
        |  GROUP BY n.node),
        |pr3 AS (
        |  SELECT n.node, CAST(150000 + COALESCE(
        |      SUM((p.pr * 850000 * e.w) // (1000000 * e.outw)), 0) AS BIGINT) AS pr
        |  FROM pr2 n
        |  LEFT JOIN e ON e.dst = n.node
        |  LEFT JOIN pr2 p ON p.node = e.src
        |  GROUP BY n.node)
        |SELECT ROW_NUMBER() OVER (ORDER BY pr3.pr DESC, nat.n_name) AS rank,
        |  nat.n_name, pr3.pr AS pr_micro
        |FROM pr3 JOIN nation nat ON nat.n_nationkey = pr3.node
        |ORDER BY rank""".stripMargin) { (s, dir) =>
      val edges = tradeNationPairs(s, dir)
        .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"),
          col("w"))
      // The corpus-heavy fact join runs ONCE — eagerly, at the
      // localCheckpoint below. Round 22 (guide §3.3): the three chained
      // power-iteration rounds each embedded the fact-join subtree in
      // the final plan (~6 copies), so Catalyst re-optimized a huge
      // tree per run; checkpointing the <= #nations^2-row weighted edge
      // frame restarts the plan from a leaf (the q153 rule; same
      // cluster note — swap for checkpoint() off local mode).
      val withOut = edges
        .join(edges.groupBy(col("src")).agg(sum(col("w")).as("outw")), "src")
        .localCheckpoint()
      val nodes = T(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType).as("node"), col("n_name"))
      def step(pr: DataFrame): DataFrame = {
        val inflow = withOut.join(pr, withOut("src") === pr("node"))
          .select(col("dst"),
            expr("(pr * 850000 * w) DIV (1000000 * outw)").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
        nodes.select(col("node"))
          .join(inflow, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(150000L) + coalesce(col("inflow"), lit(0L))).as("pr"))
      }
      val pr3 = step(step(step(nodes.select(col("node"), lit(1000000L).as("pr")))))
      val wRank = Window.orderBy(col("pr_micro").desc, col("n_name"))
      pr3.join(broadcast(nodes), "node")
        .select(col("n_name"), col("pr").as("pr_micro"))
        .withColumn("rank", row_number().over(wRank))
        .select(col("rank"), col("n_name"), col("pr_micro"))
        .orderBy(col("rank"))
    },

    // ---- q129: declarative data-quality audit (the Deequ/dbt-test
    // gate every production pipeline runs before a training job reads
    // the table): five constraint classes — not-null, range, value-set,
    // primary-key uniqueness, foreign-key existence — each reported as
    // (rule, n_checked, n_violations, viol_rate). All-integer counts +
    // one rounded division: hash-exact. The fixture is clean by
    // construction for 3 of 5 rules (zero IS the audit's answer);
    // AnalyticsSpec plants violations of every class in a constructed
    // table and asserts exact counts. 100 TB shape: the three row-local
    // rules fold into ONE conditional-sum scan (map-side partial agg to
    // one row); PK uniqueness is one keyed groupBy; FK existence is one
    // anti join on the key (the q57 decontamination shape); the rule
    // table itself is 5 rows at any corpus size. The audited projection
    // feeds all three -> persisted (one corpus scan). ----
    QueryDef(
      "q129_quality_audit",
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem),
        |n AS (SELECT COUNT(*) AS n FROM li),
        |v AS (SELECT
        |    CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
        |    SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 45) THEN 1 ELSE 0 END) AS v_range,
        |    SUM(CASE WHEN l_returnflag IS NULL
        |             OR l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS v_flag
        |  FROM li),
        |d AS (SELECT COALESCE(SUM(c - 1), 0) AS v_dup FROM (
        |    SELECT COUNT(*) AS c FROM li GROUP BY l_orderkey, l_linenumber) WHERE c > 1),
        |f AS (SELECT COUNT(*) AS v_fk
        |  FROM li LEFT JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderkey IS NULL),
        |r AS (
        |  SELECT 'fk_order_exists' AS rule, (SELECT v_fk FROM f) AS nv
        |  UNION ALL SELECT 'not_null_quantity', (SELECT v_null FROM v)
        |  UNION ALL SELECT 'pk_unique_line', (SELECT v_dup FROM d)
        |  UNION ALL SELECT 'quantity_in_range', (SELECT v_range FROM v)
        |  UNION ALL SELECT 'valid_returnflag', (SELECT v_flag FROM v))
        |SELECT rule, (SELECT n FROM n) AS n_checked,
        |  CAST(nv AS BIGINT) AS n_violations,
        |  round(nv::DOUBLE / (SELECT n FROM n), 6) AS viol_rate
        |FROM r ORDER BY rule""".stripMargin) { (s, dir) =>
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
        .persist() // 3 consumers: row-rule scan, PK groupBy, FK anti join
      val rowRules = li.agg(
        count(lit(1)).as("n"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("v_null"),
        sum(when(!col("l_quantity").between(1, 45), 1L).otherwise(0L)).as("v_range"),
        sum(when(col("l_returnflag").isNull ||
            !col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L)).as("v_flag"))
      val dups = li.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(coalesce(sum(col("c") - 1), lit(0L)).as("v_dup"))
      val orphans = li
        .join(T(s, dir, "orders").select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("v_fk"))
      rowRules.crossJoin(broadcast(dups)).crossJoin(broadcast(orphans))
        .selectExpr("n", """stack(5,
            'fk_order_exists', v_fk,
            'not_null_quantity', v_null,
            'pk_unique_line', v_dup,
            'quantity_in_range', v_range,
            'valid_returnflag', v_flag) as (rule, n_violations)""")
        .select(col("rule"), col("n").as("n_checked"), col("n_violations"),
          round(col("n_violations").cast(DoubleType) / col("n"), 6).as("viol_rate"))
        .orderBy(col("rule"))
    },

    // ---- q130: single-pass column profiling (the ANALYZE TABLE /
    // Deequ-profiler primitive feeding CBO stats, data-skipping layouts,
    // and drift monitors): per numeric column — null count, exact
    // distinct count, min, max. One corpus scan computes all four
    // columns' stats together; the exact multi-column COUNT(DISTINCT)
    // plans through Catalyst's Expand (4x shuffle rows of (value, gid)
    // pairs — still one scan); at 100 TB production swaps exact ndv for
    // approx_count_distinct (q83's HLL sketch, kilobytes per column)
    // with an identical output contract, while null/min/max stay
    // map-side partial aggs. Output: one row per profiled column,
    // always. Fixture doubles are exact binary values in both engines
    // (min/max/distinct hash-exact; no float summation anywhere). ----
    QueryDef(
      "q130_column_profile",
      """WITH p AS (SELECT COUNT(*) AS n FROM lineitem)
        |SELECT col_name, (SELECT n FROM p) AS n_rows, n_nulls, n_distinct,
        |  min_val, max_val FROM (
        |  SELECT 'l_discount' AS col_name,
        |    CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    COUNT(DISTINCT l_discount) AS n_distinct,
        |    MIN(l_discount) AS min_val, MAX(l_discount) AS max_val FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice',
        |    CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT l_extendedprice),
        |    MIN(l_extendedprice), MAX(l_extendedprice) FROM lineitem
        |  UNION ALL SELECT 'l_quantity',
        |    CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT l_quantity),
        |    MIN(l_quantity), MAX(l_quantity) FROM lineitem
        |  UNION ALL SELECT 'l_tax',
        |    CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT l_tax),
        |    MIN(l_tax), MAX(l_tax) FROM lineitem)
        |ORDER BY col_name""".stripMargin) { (s, dir) =>
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      val exprs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast(DoubleType).as(s"mn_$c"),
        max(col(c)).cast(DoubleType).as(s"mx_$c")))
      // Spread loader (round 22, guide §2/§6): the Expand (5x rows) +
      // the (values, gid)-keyed partial aggregation is the per-row-CPU-
      // dense pass of this profile, and the single-row-group fixture
      // scan serialized all of it on one core.
      graft.Tables.loadSpread(s, dir, "lineitem").select(cols.map(col): _*)
        .agg(exprs.head, exprs.tail: _*)
        .selectExpr("n", s"""stack(${cols.length},
            ${cols.map(c => s"'$c', nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")})
            as (col_name, n_nulls, n_distinct, min_val, max_val)""")
        .select(col("col_name"), col("n").as("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_val"), col("max_val"))
        .orderBy(col("col_name"))
    },

    // ---- q139: the q130 profile with the documented 100 TB swap made
    // REAL (VERDICT r12 "do this" #4): exact multi-column
    // COUNT(DISTINCT) plans through Catalyst Expand — 4 monitored
    // columns shuffle 4× the corpus — while approx_count_distinct is a
    // fixed-size mergeable HyperLogLog++ per column: one scan, map-side
    // partials, bytes per column shuffled at ANY corpus size. Output
    // contract is IDENTICAL to q130 (col_name, n_rows, n_nulls,
    // n_distinct, min_val, max_val); n_distinct carries the sketch's
    // documented ~2.8%@rsd=0.02 error, so the entry is no_oracle and
    // AnalyticsSpec pins it against the exact sibling with a 5% bound
    // (the q26/q83 pattern). PlanAuditSpec asserts the plan has NO
    // Expand node — the property that makes this the production
    // profile. ----
    QueryDef.noOracle("q139_profile_approx") { (s, dir) =>
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      val exprs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        approx_count_distinct(col(c), 0.02).as(s"nd_$c"),
        min(col(c)).cast(DoubleType).as(s"mn_$c"),
        max(col(c)).cast(DoubleType).as(s"mx_$c")))
      T(s, dir, "lineitem").select(cols.map(col): _*)
        .agg(exprs.head, exprs.tail: _*)
        .selectExpr("n", s"""stack(${cols.length},
            ${cols.map(c => s"'$c', nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")})
            as (col_name, n_nulls, n_distinct, min_val, max_val)""")
        .select(col("col_name"), col("n").as("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_val"), col("max_val"))
        .orderBy(col("col_name"))
    },

    // ---- q131: distribution-drift report — the monitoring leg of the
    // quality suite (q129 audits constraints, q130 profiles stats, this
    // compares a CURRENT snapshot against a REFERENCE one, the
    // Deequ/EvidentlyAI drift check run before every incremental train).
    // Snapshots here: l_orderkey parity (production feeds two dates/
    // partitions). Per monitored column: 10 equal-width bins anchored on
    // the REFERENCE min/max (the standard rule — current outliers clamp
    // to the edge bins), per-bin proportions in integer micros
    // (cnt*1e6 DIV n — exact in both engines), drift = total-variation
    // distance (half the L1 gap) plus the worst single-bin gap. TV is
    // chosen over PSI/KL deliberately: it needs no ln(), so the whole
    // report is int64 arithmetic — cross-engine bit-exact (the binning
    // float expr is the identical IEEE op sequence both sides). 100 TB
    // shape: pass 1 is a pruned reference-side min/max scan collapsing
    // to ONE broadcast row; pass 2 bins both snapshots scan-locally and
    // partial-aggregates to (column x 10 x 2) cells per map task; the
    // two-pass split is the q116 rule (bin edges depend on global
    // stats; two pruned scans beat caching the corpus). Output: one row
    // per monitored column, always. ----
    QueryDef(
      "q131_drift_report",
      """WITH src AS (
        |  SELECT l_orderkey % 2 AS side, col_name, x FROM (
        |    SELECT l_orderkey, 'l_discount' AS col_name, l_discount AS x FROM lineitem
        |    UNION ALL SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
        |    UNION ALL SELECT l_orderkey, 'l_quantity', l_quantity FROM lineitem)),
        |stats AS (
        |  SELECT col_name, MIN(x) AS mn, MAX(x) AS mx
        |  FROM src WHERE side = 0 GROUP BY col_name),
        |binned AS (
        |  SELECT src.side, src.col_name,
        |    CASE WHEN stats.mx > stats.mn THEN
        |      LEAST(9, GREATEST(0, CAST(floor((src.x - stats.mn) * 10 / (stats.mx - stats.mn)) AS BIGINT)))
        |    ELSE 0 END AS bin
        |  FROM src JOIN stats USING (col_name)),
        |cells AS (
        |  SELECT col_name, bin,
        |    CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
        |    CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
        |  FROM binned GROUP BY col_name, bin),
        |tot AS (
        |  SELECT col_name,
        |    CAST(SUM(c_ref) AS BIGINT) AS n_ref, CAST(SUM(c_cur) AS BIGINT) AS n_cur
        |  FROM cells GROUP BY col_name),
        |gaps AS (
        |  SELECT cells.col_name,
        |    abs((c_ref * 1000000) // n_ref - (c_cur * 1000000) // n_cur) AS gap
        |  FROM cells JOIN tot USING (col_name))
        |SELECT col_name, n_ref, n_cur,
        |  CAST(SUM(gap) // 2 AS BIGINT) AS tv_micro,
        |  CAST(MAX(gap) AS BIGINT) AS max_gap_micro
        |FROM gaps JOIN tot USING (col_name)
        |GROUP BY col_name, n_ref, n_cur
        |ORDER BY col_name""".stripMargin) { (s, dir) =>
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity")
      val li = T(s, dir, "lineitem")
        .select((col("l_orderkey") +: cols.map(col)): _*)
      val src = li.selectExpr("l_orderkey % 2 AS side",
        s"stack(${cols.length}, ${cols.map(c => s"'$c', $c").mkString(", ")}) as (col_name, x)")
      // Pass 1: reference-side bin anchors — one broadcastable row per
      // monitored column (#cols rows total).
      val stats = src.filter(col("side") === 0)
        .groupBy(col("col_name"))
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val binned = src.join(broadcast(stats), "col_name")
        .withColumn("bin",
          when(col("mx") > col("mn"),
            least(lit(9L), greatest(lit(0L),
              floor((col("x") - col("mn")) * 10 / (col("mx") - col("mn"))))))
            .otherwise(0L))
      val cells = binned.groupBy(col("col_name"), col("bin"))
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("c_ref"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("c_cur"))
      // Everything below operates on #cols x 10 rows.
      val tot = cells.groupBy(col("col_name"))
        .agg(sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"))
      cells.join(tot, "col_name")
        .withColumn("gap",
          abs(expr("(c_ref * 1000000) DIV n_ref - (c_cur * 1000000) DIV n_cur")))
        .groupBy(col("col_name"), col("n_ref"), col("n_cur"))
        .agg(expr("CAST(SUM(gap) DIV 2 AS BIGINT)").as("tv_micro"),
          max(col("gap")).as("max_gap_micro"))
        .orderBy(col("col_name"))
    },

    // ---- q133: domain-mixture sampling plan — the DoReMi/Pile-style
    // mixture step run before every pretraining job: given per-domain
    // token masses and a target policy (balanced domains within a global
    // token budget of total/2 here; production swaps in learned weights),
    // emit each domain's sampling rate. rate_micro =
    // min(1e6, target_tokens*1e6 DIV domain_tokens) — domains below
    // their quota keep everything (rate 1e6), oversized ones are
    // downsampled proportionally; all arithmetic is int64 DIV, so the
    // plan is cross-engine bit-exact. The rate then drives q34's
    // hash-split (rand()-free, reproducible) as the materialization
    // step. 100 TB shape: ONE corpus scan partial-aggregates to
    // #domains rows; the corpus-total frame is a 1-row broadcast; every
    // row after the scan is dictionary-sized. Output: one row per
    // domain, always. ----
    QueryDef(
      "q133_domain_mixture",
      """WITH d AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS domain_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY source),
        |t AS (SELECT CAST(SUM(domain_tokens) AS BIGINT) AS total_tokens,
        |        COUNT(*) AS n_domains FROM d),
        |r AS (
        |  SELECT source, n_docs, domain_tokens,
        |    (total_tokens // 2) // n_domains AS target_tokens,
        |    LEAST(1000000, (((total_tokens // 2) // n_domains) * 1000000) // domain_tokens) AS rate_micro
        |  FROM d, t)
        |SELECT source, n_docs, domain_tokens, target_tokens, rate_micro,
        |  (domain_tokens * rate_micro) // 1000000 AS expected_tokens
        |FROM r ORDER BY source""".stripMargin) { (s, dir) =>
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(lower(col("text")), " "))).as("domain_tokens"))
      val t = d.agg(sum(col("domain_tokens")).as("total_tokens"),
        count(lit(1)).as("n_domains"))
      d.crossJoin(broadcast(t))
        .withColumn("target_tokens", expr("(total_tokens DIV 2) DIV n_domains"))
        .withColumn("rate_micro",
          least(lit(1000000L), expr("(target_tokens * 1000000) DIV domain_tokens")))
        .select(col("source"), col("n_docs"), col("domain_tokens"),
          col("target_tokens"), col("rate_micro"),
          expr("(domain_tokens * rate_micro) DIV 1000000").as("expected_tokens"))
        .orderBy(col("source"))
    },

    // ---- q134: fuzzy entity matching over the DISTINCT-value dictionary
    // (record linkage / typo canonicalization, the Zingg/Splink shape):
    // candidate pairs are generated ONLY within a blocking key (the
    // name's second word here; production stacks several keys) and ONLY
    // over the deduplicated dictionary — edit distance never touches
    // corpus rows. Pairs at levenshtein <= 3 surface with both sides'
    // corpus support so a downstream merge rule can pick the canonical
    // form. 100 TB shape: the dictionary aggregation is the only corpus
    // shuffle (distinct values ~ vocabulary, orders of magnitude below
    // row count); the dictionary self-join is block-bounded (never
    // all-pairs) and broadcast (vocab fits in MB); levenshtein is
    // codegen'd in both engines with identical classic-DP semantics. ----
    QueryDef(
      "q134_fuzzy_match",
      """WITH d AS (
        |  SELECT p_name, split_part(p_name, ' ', 2) AS blk, COUNT(*) AS n_rows
        |  FROM part GROUP BY p_name, blk)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
        |  a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
        |FROM d a JOIN d b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin) { (s, dir) =>
      val d = T(s, dir, "part")
        .groupBy(col("p_name"), split(col("p_name"), " ")(1).as("blk"))
        .agg(count(lit(1)).as("n_rows"))
      val a = d.as("a"); val b = d.as("b")
      a.join(broadcast(b),
          col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name")
            && levenshtein(col("a.p_name"), col("b.p_name")) <= 3)
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          levenshtein(col("a.p_name"), col("b.p_name")).cast(LongType).as("dist"),
          col("a.n_rows").as("n_rows_a"), col("b.n_rows").as("n_rows_b"))
        .orderBy(col("name_a"), col("name_b"))
    },

    // ---- q135: SCD type-2 history build (the warehouse
    // change-data-capture op: an append-only event log becomes a
    // versioned dimension with validity intervals): per user, collapse
    // consecutive same-state runs, stamp each run with
    // [valid_from, valid_to) = run start / next run start (NULL while
    // current), version = run ordinal. Timestamps are floor-to-second
    // epochs (q69's rule) and ordering is pinned by (tsec, event_id), so
    // run boundaries are engine-identical. 100 TB shape: ONE shuffle
    // keyed by the entity id; the change flag, running version, run
    // aggregate, and interval stitch all reuse that partitioning (the
    // q69 sessionize shape — window + same-key groupBy, AQE keeps them
    // co-partitioned). Output rows = state transitions, not events. ----
    QueryDef("q135_scd2_history", Scd2OracleSql) { (s, dir) =>
      scd2Build(
        T(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_timestamp(col("ts")).as("tsec")))
        .orderBy(col("user_id"), col("version"))
    },

    // ---- q165 (round 14): INCREMENTAL SCD2 upsert — q135 rebuilds the
    // versioned dimension from scratch; production CDC maintains a
    // STORED history as batches arrive. The production-honest
    // incremental shape is partition-scoped rebuild (Hudi/Iceberg
    // merge-on-read): the batch's affected entity set is tiny, so only
    // those users' histories recompute (from their full event slice —
    // which also makes LATE events correct for free, where interval
    // stitching on the open tail alone would corrupt), everyone else's
    // rows stream through untouched from the stored base. The batch
    // here is the event_id%200 slice (~30% of users affected at sf0.01,
    // the rest stream through untouched) — arbitrary arrival order,
    // deliberately including in-the-past events. The ORACLE IS THE
    // FULL REBUILD (q135's SQL verbatim): hash equality proves the
    // upsert stitch drops, duplicates, and mis-versions nothing.
    // 100 TB shape: the base reads from storage (bucketed by user — no
    // exchange on the untouched side beyond the anti probe against the
    // broadcast affected set); recompute cost tracks the AFFECTED
    // users' events, not the corpus; the union is exchange-free. ----
    QueryDef("q165_scd2_upsert", Scd2OracleSql) { (s, dir) =>
      val ev = T(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"))
      val isBatch = col("event_id") % 200 === 0
      val baseTbl = ensureScd2Base(s, dir)
      val affected = ev.filter(isBatch).select(col("user_id")).distinct()
      val untouched = s.table(baseTbl)
        .join(broadcast(affected), Seq("user_id"), "left_anti")
      val rebuilt = scd2Build(
        ev.join(broadcast(affected), Seq("user_id"), "left_semi"))
      untouched.unionByName(rebuilt)
        .orderBy(col("user_id"), col("version"))
    },

    // ---- q136: event-time rolling aggregates via a RANGE window frame
    // (the telemetry moving-average op — and the one frame kind no other
    // query exercises: q09's running sums are ROWS frames, q38's sliding
    // windows are pre-bucketed; RANGE bounds follow the ORDER BY VALUE,
    // so each event sees exactly the trailing 5 minutes regardless of
    // event density). Aggregates are floor-to-integer count/sum/max —
    // order-free within the frame, so RANGE-peer tie order (same tsec)
    // cannot matter and the result is engine-identical. 100 TB shape:
    // ONE shuffle keyed by entity; the frame evaluator is a per-key
    // sliding accumulator over the sorted run (linear, no
    // per-event rescan); output rows = input rows. ----
    QueryDef(
      "q136_rolling_window",
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    CAST(floor(value) AS BIGINT) AS v FROM events)
        |SELECT event_id, user_id, tsec,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_5min,
        |  CAST(SUM(v) OVER w AS BIGINT) AS sum_5min,
        |  CAST(MAX(v) OVER w AS BIGINT) AS max_5min
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsec
        |  RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, tsec, event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"))
        .rangeBetween(-300, Window.currentRow)
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("tsec"),
          floor(col("value")).cast(LongType).as("v"))
        .select(col("event_id"), col("user_id"), col("tsec"),
          count(lit(1)).over(w).as("n_5min"),
          sum(col("v")).over(w).as("sum_5min"),
          max(col("v")).over(w).as("max_5min"))
        .orderBy(col("user_id"), col("tsec"), col("event_id"))
    },

    // ---- q137: robust anomaly detection via median/MAD (the
    // outlier-rate monitor that survives the skew that wrecks q71's
    // mean/stddev z-scores): per group, med = exact median, MAD =
    // median(|x - med|), outlier = |x - med| > 3*MAD. Values floor to
    // int64 first, so every median is a half-integer — exactly
    // representable — and the 3*MAD threshold compare is bit-identical
    // cross-engine (no epsilon). 100 TB shape: the value projection is
    // persisted (median pass + deviation join — one corpus scan); both
    // median tables are #groups-row broadcasts; exact percentile is a
    // per-group sort-agg, the documented swap point for q90's mergeable
    // KLL sketch at corpus scale with the same output contract. ----
    QueryDef(
      "q137_mad_outliers",
      """WITH e AS (
        |  SELECT event_type, CAST(floor(value) AS BIGINT) AS v FROM events),
        |m AS (SELECT event_type, quantile_cont(v, 0.5) AS med FROM e GROUP BY event_type),
        |d AS (SELECT e.event_type, e.v, m.med, abs(e.v - m.med) AS adev
        |      FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM d GROUP BY event_type)
        |SELECT d.event_type, COUNT(*) AS n, MIN(d.med) AS med, MIN(md.mad) AS mad,
        |  CAST(SUM(CASE WHEN abs(d.v - d.med) > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type
        |ORDER BY d.event_type""".stripMargin) { (s, dir) =>
      val e = T(s, dir, "events")
        .select(col("event_type"), floor(col("value")).cast(LongType).as("v"))
        .persist()
      val m = e.groupBy(col("event_type")).agg(expr("percentile(v, 0.5)").as("med"))
      val d = e.join(broadcast(m), "event_type")
        .withColumn("adev", abs(col("v") - col("med")))
        .persist()
      val md = d.groupBy(col("event_type")).agg(expr("percentile(adev, 0.5)").as("mad"))
      d.join(broadcast(md), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("med")).as("med"), min(col("mad")).as("mad"),
          sum(when(abs(col("v") - col("med")) > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("event_type"))
    },

    // ---- q144: event-transition matrix — the first-order Markov prior
    // over user behavior sequences (the "what follows what" model a
    // session-recommendation or anomaly baseline trains on; q69 cuts
    // sessions, q86 walks one fixed funnel — this estimates ALL
    // transition probabilities). Ordering is pinned by (tsec, event_id)
    // (q135's rule), so each user's sequence — and therefore every
    // (prev, next) pair — is engine-identical; probabilities are
    // n*1e6 DIV row-total, integer-exact. 100 TB shape: ONE shuffle
    // keyed by user for the lag; the transition count partial-aggregates
    // to <= #types^2 cells per map task; row totals are a #types-row
    // broadcast back into the matrix. Output <= #types^2 rows at any
    // corpus size. ----
    QueryDef(
      "q144_markov_transitions",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
        |c AS (
        |  SELECT event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY tsec, event_id)
        |      AS prev_type
        |  FROM e),
        |t AS (
        |  SELECT prev_type, next_type, COUNT(*) AS n FROM c
        |  WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type),
        |tot AS (SELECT prev_type, SUM(n) AS tn FROM t GROUP BY prev_type)
        |SELECT t.prev_type, t.next_type, t.n,
        |  CAST((t.n * 1000000) // tot.tn AS BIGINT) AS p_micro
        |FROM t JOIN tot USING (prev_type)
        |ORDER BY prev_type, next_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"), col("event_id"))
      val t = T(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val tot = t.groupBy(col("prev_type")).agg(sum(col("n")).as("tn"))
      t.join(broadcast(tot), "prev_type")
        .select(col("prev_type"), col("next_type"), col("n"),
          expr("(n * 1000000L) DIV tn").as("p_micro"))
        .orderBy(col("prev_type"), col("next_type"))
    },

    // ---- q145: Markov next-event prediction EVAL — the q138/q143
    // harness pattern applied to q144's behavior prior: train the
    // transition matrix on user_id % 5 != 0, predict each held-out
    // user's next event as the trained argmax (count desc, next_type
    // tie — deterministic), report per-prev-type accuracy in integer
    // micros. The train/eval split is BY USER (sequences never leak
    // across the split — q115's leakage rule applied to behavior data).
    // 100 TB shape: one user-keyed lag shuffle on each split; the
    // trained argmax is a <= #types-row broadcast into the eval pairs;
    // output <= #types rows. ----
    QueryDef(
      "q145_markov_eval",
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
        |c AS (
        |  SELECT user_id, event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY tsec, event_id)
        |      AS prev_type
        |  FROM e),
        |p AS (SELECT user_id, prev_type, next_type FROM c WHERE prev_type IS NOT NULL),
        |m AS (
        |  SELECT prev_type, next_type AS pred_type FROM (
        |    SELECT prev_type, next_type,
        |      ROW_NUMBER() OVER (PARTITION BY prev_type
        |        ORDER BY COUNT(*) DESC, next_type) AS rk
        |    FROM p WHERE user_id % 5 <> 0 GROUP BY prev_type, next_type)
        |  WHERE rk = 1),
        |ev AS (SELECT prev_type, next_type FROM p WHERE user_id % 5 = 0)
        |SELECT ev.prev_type, m.pred_type,
        |  COUNT(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN ev.next_type = m.pred_type THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  CAST((SUM(CASE WHEN ev.next_type = m.pred_type THEN 1 ELSE 0 END) * 1000000)
        |    // COUNT(*) AS BIGINT) AS acc_micro
        |FROM ev JOIN m USING (prev_type)
        |GROUP BY ev.prev_type, m.pred_type
        |ORDER BY ev.prev_type""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"), col("event_id"))
      val pairs = T(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .select(col("user_id"), col("prev_type"), col("event_type").as("next_type"))
        .persist()
      val wArg = Window.partitionBy(col("prev_type"))
        .orderBy(col("cnt").desc, col("next_type"))
      val model = pairs.filter(col("user_id") % 5 =!= 0)
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(wArg))
        .filter(col("rk") === 1)
        .select(col("prev_type"), col("next_type").as("pred_type"))
      pairs.filter(col("user_id") % 5 === 0)
        .join(broadcast(model), "prev_type")
        .groupBy(col("prev_type"), col("pred_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("next_type") === col("pred_type"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("prev_type"), col("pred_type"), col("n_pairs"), col("n_correct"),
          expr("(n_correct * 1000000L) DIV n_pairs").as("acc_micro"))
        .orderBy(col("prev_type"))
    },

    // ---- q146: corpus embedding-diversity score — exact mean pairwise
    // cosine per label WITHOUT enumerating pairs (the curation metric
    // behind the dedup-vs-diversity tension: SemDeDup prunes low-
    // diversity cells, mixture tuning watches per-source diversity).
    // The algebraic identity does the work: for unit-normalized vectors
    // u_i, sum_{i<j} cos(u_i,u_j) = (||Σu||² − Σ||u||²) / 2, so the
    // whole statistic needs only per-dimension sums and per-row self
    // dots — two linear aggregates, never the n² pairs. round-6 on the
    // result (the q72/q132 float rule: double sums agree to ~1e-13,
    // output precision 1e-6). 100 TB shape: normalize scan-locally, one
    // (label, dim)-keyed partial agg of 64·n rows + one #labels-row
    // rollup; output #labels rows. ----
    QueryDef(
      "q146_embedding_diversity",
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        |  FROM embeddings WHERE vec_id <> 0),
        |n AS (
        |  SELECT vec_id, label,
        |    list_transform(vd, x -> x / sqrt(list_sum(list_transform(vd, y -> y * y)))) AS u
        |  FROM v),
        |selfd AS (
        |  SELECT label, COUNT(*) AS n,
        |    SUM(list_sum(list_transform(u, x -> x * x))) AS sself
        |  FROM n GROUP BY label),
        |dims AS (
        |  SELECT label, d, ux FROM (
        |    SELECT label, unnest(generate_series(1, len(u))) AS d,
        |      unnest(u) AS ux FROM n)),
        |s2 AS (
        |  SELECT label, SUM(sd * sd) AS ssq FROM (
        |    SELECT label, d, SUM(ux) AS sd FROM dims GROUP BY label, d)
        |  GROUP BY label)
        |SELECT selfd.label, selfd.n,
        |  round((s2.ssq - selfd.sself) / (selfd.n * (selfd.n - 1)), 6) AS mean_cos
        |FROM selfd JOIN s2 USING (label)
        |WHERE selfd.n >= 2
        |ORDER BY selfd.label""".stripMargin) { (s, dir) =>
      val fold = (c: Column) => aggregate(c, lit(0.0), (acc, x) => acc + x)
      // Normalize scan-locally; v feeds the self-dot rollup AND the
      // per-dimension sums: persist (one corpus scan). Round 21: the
      // norm is hoisted OUT of the per-element transform lambda — the
      // old form re-evaluated sqrt(Σx²) for every element (64 interpreted
      // 64-element folds per row, ~41M lambda calls on the sf0.1 corpus);
      // hoisting divides every element by the IDENTICAL double, so u is
      // bit-identical and the oracle pairing is unchanged.
      val v = T(s, dir, "embeddings")
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast(DoubleType)).as("vd"))
        .withColumn("nrm", sqrt(fold(zip_with(col("vd"), col("vd"), (a, b) => a * b))))
        .select(col("vec_id"), col("label"),
          transform(col("vd"), x => x / col("nrm")).as("u"))
        .persist()
      val selfd = v.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(fold(zip_with(col("u"), col("u"), (a, b) => a * b))).as("sself"))
      val s2 = v.select(col("label"), posexplode(col("u")).as(Seq("d", "ux")))
        .groupBy(col("label"), col("d"))
        .agg(sum(col("ux")).as("sd"))
        .groupBy(col("label"))
        .agg(sum(col("sd") * col("sd")).as("ssq"))
      selfd.join(s2, "label")
        .filter(col("n") >= 2)
        .select(col("label"), col("n"),
          round((col("ssq") - col("sself")) / (col("n") * (col("n") - 1)), 6).as("mean_cos"))
        .orderBy(col("label"))
    },

    // ---- q153: triangle count + local clustering coefficient on the
    // nation trade graph (round 14) — the LOCAL-structure metric the
    // graph family lacked: q76 covers reachability, q128 stationary
    // mass; triangles/clustering coefficient is what spam and community
    // detection on host graphs actually compute (a link farm is a
    // high-cc clique; an organic hub is low-cc). Edges: undirected
    // nation pairs whose trade weight is STRICTLY above the mean —
    // compared in pure integer arithmetic (w * n_pairs > sum_w, no
    // float threshold to drift cross-engine), which yields a mid-density
    // graph at every fixture SF (81 edges/16 nodes at sf0.001) where
    // the raw graph is complete. The scale move is DEGREE-ORDERED
    // ORIENTATION (Suri-Vassilvitskii): each edge points from its
    // lower-(degree, id) endpoint to the higher, so every triangle is
    // counted exactly once from its lowest vertex and the candidate
    // pair join per node is bounded by ORIENTED out-degree² = O(m^1.5)
    // total work instead of Σ deg² (which a star graph blows up).
    // cc_micro = 2·T(v)·10^6 DIV deg(v)·(deg(v)−1) stays in int64
    // (division guarded for degree-1 nodes — ANSI mode errors on /0).
    // 100 TB shape (nodes = hosts, edges = hyperlinks): the corpus-sized
    // fact join aggregates ONCE to the edge list and everything after is
    // edge-sized; candidate generation + existence check are EQUI joins
    // on node keys (hash-partitionable; PlanAudit holds them to
    // hash/merge); the only broadcasts are the 1-row total and the
    // #nodes-row degree/name dims. ----
    QueryDef(
      "q153_triangle_count",
      """WITH p AS (
        |  SELECT LEAST(c.c_nationkey, s.s_nationkey) AS u,
        |         GREATEST(c.c_nationkey, s.s_nationkey) AS v, COUNT(*) AS w
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT COUNT(*) AS np, SUM(w) AS sw FROM p),
        |edges AS (SELECT u, v FROM p, tot WHERE w * tot.np > tot.sw),
        |deg AS (
        |  SELECT node, COUNT(*) AS degree FROM (
        |    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges) dd
        |  GROUP BY node),
        |oriented AS (
        |  SELECT CASE WHEN du.degree < dv.degree
        |              OR (du.degree = dv.degree AND e.u < e.v)
        |         THEN e.u ELSE e.v END AS src,
        |         CASE WHEN du.degree < dv.degree
        |              OR (du.degree = dv.degree AND e.u < e.v)
        |         THEN e.v ELSE e.u END AS dst
        |  FROM edges e
        |  JOIN deg du ON du.node = e.u
        |  JOIN deg dv ON dv.node = e.v),
        |tri AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM oriented e1
        |  JOIN oriented e2 ON e2.src = e1.src AND e2.dst <> e1.dst
        |  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |pertri AS (
        |  SELECT node, COUNT(*) AS triangles FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) tt
        |  GROUP BY node)
        |SELECT n.n_name, d.degree, COALESCE(t.triangles, 0) AS triangles,
        |  CASE WHEN d.degree >= 2
        |       THEN (COALESCE(t.triangles, 0) * 2000000)
        |            // (d.degree * (d.degree - 1))
        |       ELSE CAST(0 AS BIGINT) END AS cc_micro
        |FROM deg d
        |JOIN nation n ON n.n_nationkey = d.node
        |LEFT JOIN pertri t ON t.node = d.node
        |ORDER BY n.n_name""".stripMargin) { (s, dir) =>
      // Undirected fold of the SHARED nation-pair aggregate: summing the
      // two directed weights over (min, max) equals the original
      // per-lineitem count — nation-pair-sized work, the fact join runs
      // once inside tradeNationPairs.
      val pairs = tradeNationPairs(s, dir)
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .select(least(col("c_nationkey"), col("s_nationkey")).as("u"),
          greatest(col("c_nationkey"), col("s_nationkey")).as("v"), col("w"))
        .groupBy(col("u"), col("v")).agg(sum(col("w")).cast(LongType).as("w"))
      // The corpus-sized fact join runs ONCE; the 1-row total broadcasts
      // back over the edge-sized pair list (q133/q142's audited shape).
      val tot = pairs.agg(count(lit(1)).as("np"), sum(col("w")).as("sw"))
      // Round 22 (guide §3.3): localCheckpoint instead of persist — the
      // triangle probe references the oriented edges 3x and each
      // reference embedded the whole fact-join subtree, so Catalyst
      // re-optimized a multi-thousand-node tree (~1.7 s of the entry's
      // wall was driver planning, Probe-measured). Checkpointing pins
      // the <= #nations^2-row frame and restarts the plan from a leaf.
      // (Local-mode-friendly: at cluster scale an executor loss drops
      // localCheckpoint blocks — swap for checkpoint() on a real
      // cluster, or accept recompute-from-scratch on loss.)
      val edges = pairs.crossJoin(broadcast(tot))
        .filter(col("w") * col("np") > col("sw"))
        .select(col("u"), col("v"))
        .localCheckpoint()
      val deg = edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
        .persist()
      val lower = (col("du") < col("dv")) ||
        (col("du") === col("dv") && col("u") < col("v"))
      val oriented = edges
        .join(broadcast(deg.select(col("node").as("un"), col("degree").as("du"))),
          col("u") === col("un"))
        .join(broadcast(deg.select(col("node").as("vn"), col("degree").as("dv"))),
          col("v") === col("vn"))
        .select(when(lower, col("u")).otherwise(col("v")).as("src"),
          when(lower, col("v")).otherwise(col("u")).as("dst"))
        .localCheckpoint()
      val e1 = oriented.select(col("src").as("a"), col("dst").as("b"))
      val e2 = oriented.select(col("src").as("a2"), col("dst").as("c"))
      val e3 = oriented.select(col("src").as("b3"), col("dst").as("c3"))
      // Candidate wedges from each low vertex, then ONE oriented
      // existence probe closes (or drops) the wedge — both equi joins.
      val tri = e1.join(e2, col("a") === col("a2") && col("b") =!= col("c"))
        .join(e3, col("b") === col("b3") && col("c") === col("c3"))
        .select(col("a"), col("b"), col("c"))
      val pertri = tri.select(col("a").as("node"))
        .unionByName(tri.select(col("b").as("node")))
        .unionByName(tri.select(col("c").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
        .withColumnRenamed("node", "tn")
      val nation = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      deg.join(broadcast(nation), col("node") === col("n_nationkey"))
        .join(pertri, col("node") === col("tn"), "left")
        .select(col("n_name"), col("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          when(col("degree") >= 2,
            expr("(coalesce(triangles, 0L) * 2000000) DIV (degree * (degree - 1))"))
            .otherwise(lit(0L)).as("cc_micro"))
        .orderBy(col("n_name"))
    },

    // ---- q171 (round 14): per-user TEMPORAL train/eval split — the
    // no-time-travel split sequence models need (q115 splits documents
    // by content hash; behavior data must split each user's TIMELINE:
    // train on the first 80% of their events, evaluate on the rest, or
    // the model sees the future). Per user: rank events by (tsec,
    // event_id), train = first ceil(0.8n) (integer (4n+4) DIV 5 — same
    // truncation both engines), and the output AUDITS the split: per
    // split sizes, the train/eval boundary instants (train_max <=
    // eval_min by construction — emitted so the gate would catch a
    // broken rank), and order-free membership checksums per side. 100
    // TB shape: ONE user-keyed shuffle; rank + partition count ride
    // the same window partitioning; output one row per user. ----
    QueryDef(
      "q171_temporal_split",
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, tsec,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM e),
        |f AS (
        |  SELECT user_id, event_id, tsec,
        |    CASE WHEN rn <= (4 * n + 4) // 5 THEN 1 ELSE 0 END AS is_train
        |  FROM r)
        |SELECT user_id,
        |  CAST(SUM(is_train) AS BIGINT) AS n_train,
        |  CAST(SUM(1 - is_train) AS BIGINT) AS n_eval,
        |  MAX(CASE WHEN is_train = 1 THEN tsec END) AS train_max_tsec,
        |  MIN(CASE WHEN is_train = 0 THEN tsec END) AS eval_min_tsec,
        |  CAST(SUM(CASE WHEN is_train = 1 THEN event_id % 1000000007 END) AS BIGINT)
        |    AS train_checksum,
        |  CAST(SUM(CASE WHEN is_train = 0 THEN event_id % 1000000007 END) AS BIGINT)
        |    AS eval_checksum
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("tsec"), col("event_id"))
      val wAll = Window.partitionBy(col("user_id"))
      T(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("tsec"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("is_train",
          when(col("rn") <= expr("(4 * n + 4) DIV 5"), 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("is_train")).cast(LongType).as("n_train"),
          sum(lit(1) - col("is_train")).cast(LongType).as("n_eval"),
          max(when(col("is_train") === 1, col("tsec"))).as("train_max_tsec"),
          min(when(col("is_train") === 0, col("tsec"))).as("eval_min_tsec"),
          sum(when(col("is_train") === 1, col("event_id") % 1000000007L))
            .cast(LongType).as("train_checksum"),
          sum(when(col("is_train") === 0, col("event_id") % 1000000007L))
            .cast(LongType).as("eval_checksum"))
        .orderBy(col("user_id"))
    },

    // ---- q170 (round 14): behavior-sequence corpus construction —
    // turn the event LOG into trainable SEQUENCES (the
    // behavioral-pretraining / recommendation-LM data op: each user's
    // ordered event-type tokens become one training document; q144/
    // q145 model transitions, this EMITS the corpus they train on).
    // Ordering is pinned by (tsec, event_id) — the q135 rule — and the
    // sequence content is pinned cross-engine by its md5 digest, so
    // any reorder or drop hash-fails. Output: one row per user with
    // the sequence digest + length stats. 100 TB shape: ONE shuffle
    // keyed by user; the reassembly is the same irreducible doc-keyed
    // groupBy every corpus rewrite pays (q141/q164); a production run
    // shards (user, day) and emits windowed sequences. ----
    QueryDef(
      "q170_behavior_sequences",
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    event_id
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
        |  md5(string_agg(event_type, ' ' ORDER BY tsec, event_id)) AS seq_md5
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      T(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"), col("event_id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("tsec"), col("event_id"),
                col("event_type")))),
              x => x.getField("event_type")),
            " ")).as("seq_md5"))
        .orderBy(col("user_id"))
    },

    // ---- q161 (round 14): deletion-propagation audit — the
    // right-to-be-forgotten cascade a training-data platform must
    // answer for: a deletion request set (here the deterministic
    // doc_id % 97 cohort) must purge not just the SOURCE rows but every
    // DERIVED artifact keyed by them. Three artifact families are
    // re-derived in-query and audited: the corpus itself, q75's 64/48
    // retrieval chunks, and the q99-style distinct (doc, term) postings.
    // Each audit is ONE scan with the deletion set broadcast-joined as a
    // hit flag (the same broadcast hash join a left_anti purge plans —
    // counting both sides in one pass instead of two jobs); n_purged +
    // n_retained = n_total by construction, and the oracle re-derives
    // all three artifacts independently. 100 TB shape: deletion sets
    // are request-sized (broadcast); every artifact audit is scan-local
    // explode + one flag join + one partial agg — the corpus is touched
    // once per artifact and never shuffled on a corpus-sized key. ----
    QueryDef(
      "q161_deletion_propagation",
      s"""WITH chunks AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |      CASE WHEN len(ws) <= $ChunkTokens THEN 1
         |           ELSE CAST(1 + floor((len(ws) - $ChunkTokens + $ChunkStride - 1) / $ChunkStride) AS BIGINT)
         |      END AS n_chunks
         |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents)) n,
         |    unnest(generate_series(0, n_chunks - 1)) AS u(ci)),
         |postings AS (
         |  SELECT DISTINCT doc_id, w FROM (
         |    SELECT doc_id, ${Pipeline.wordFeatOracleSql} AS w
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE len(w) > 0),
         |a AS (
         |  SELECT '1_documents' AS artifact, doc_id FROM documents
         |  UNION ALL SELECT '2_chunks', doc_id FROM chunks
         |  UNION ALL SELECT '3_postings', doc_id FROM postings)
         |SELECT artifact, COUNT(*) AS n_total,
         |  CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
         |  CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_retained
         |FROM a GROUP BY artifact ORDER BY artifact""".stripMargin) { (s, dir) =>
      val docs = T(s, dir, "documents")
      val del = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), lit(1).as("hit"))
      val chunks = docs
        .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
        .withColumn("n", size(col("ws")))
        .withColumn("n_chunks",
          when(col("n") <= ChunkTokens, lit(1L))
            .otherwise((lit(1) + floor((col("n") - ChunkTokens + ChunkStride - 1) / lit(ChunkStride))).cast(LongType)))
        .select(col("doc_id"), explode(sequence(lit(0L), col("n_chunks") - 1)).as("ci"))
        .select(col("doc_id"))
      val postings = docs.filter(col("text").isNotNull)
        .select(col("doc_id"), explode(Pipeline.wordFeatCol).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("doc_id"), col("w")).distinct()
        .select(col("doc_id"))
      def audit(name: String, df: DataFrame): DataFrame =
        df.join(broadcast(del), Seq("doc_id"), "left")
          .agg(count(lit(1)).as("n_total"),
            sum(coalesce(col("hit"), lit(0))).cast(LongType).as("n_purged"),
            sum(when(col("hit").isNull, 1).otherwise(0)).cast(LongType).as("n_retained"))
          .select(lit(name).as("artifact"),
            col("n_total"), col("n_purged"), col("n_retained"))
      audit("1_documents", docs.select(col("doc_id")))
        .unionByName(audit("2_chunks", chunks))
        .unionByName(audit("3_postings", postings))
        .orderBy(col("artifact"))
    },

    // ---- q163 (round 14): k-anonymity audit — the quasi-identifier
    // re-identification check privacy review runs before a corpus
    // ships: any (source, lang, length-bucket) combination matching
    // fewer than K documents singles its authors out. Reported at GROUP
    // granularity (the quasi-identifier dictionary, NOT the corpus):
    // every risky group with its member count, plus the exact bucket
    // rule (n_chars DIV 200) both engines compute in integers. 100 TB
    // shape: one quasi-identifier-keyed partial aggregate (map-side
    // combine collapses to the combo dictionary), the risky filter is
    // on the aggregate; output is bounded by #combos, corpus-size-
    // independent for fixed dictionaries. ----
    QueryDef(
      "q163_k_anonymity",
      """SELECT source, lang, n_chars // 200 AS len_bucket, COUNT(*) AS n_docs
        |FROM documents
        |GROUP BY source, lang, n_chars // 200
        |HAVING COUNT(*) < 10
        |ORDER BY source, lang, len_bucket""".stripMargin) { (s, dir) =>
      T(s, dir, "documents")
        .groupBy(col("source"), col("lang"),
          expr("n_chars DIV 200").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") < 10)
        .orderBy(col("source"), col("lang"), col("len_bucket"))
    },

    // ---- q194 (round 15): K-CORE DECOMPOSITION (k=3) of the trade
    // graph — the graph family's density layer (q76 components, q128
    // rank, q153 triangles; k-core answers "which nodes survive in a
    // mutually-dense sub-network", the community-backbone question):
    // iterative peeling — drop every node with degree < 3 among
    // survivors, repeat to fixpoint. Spark runs the loop with
    // per-round localCheckpoint lineage cuts (the q76/q125 iterative
    // pattern) and EARLY-EXITS at the fixpoint; the ORACLE unrolls 25
    // peel rounds as generated chained CTEs (25 ≥ #nations bounds the
    // fixpoint for ANY graph on these nodes; post-convergence rounds
    // are no-ops, so early-exit and fixed-unroll agree exactly — the
    // q150 generated-iteration technique applied to graph algorithms).
    // Output per node: full-graph degree + core membership. 100 TB
    // shape: the corpus-sized fact join runs ONCE (shared
    // tradeNationPairs); every peel round touches the ≤ #nodes²-row
    // edge frame only; rounds are edge-frame-sized jobs, never corpus
    // rescans. ----
    QueryDef("q194_kcore", kcoreOracle) { (s, dir) =>
      val pairs = tradeNationPairs(s, dir)
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .select(least(col("c_nationkey"), col("s_nationkey")).as("u"),
          greatest(col("c_nationkey"), col("s_nationkey")).as("v"), col("w"))
        .groupBy(col("u"), col("v")).agg(sum(col("w")).cast(LongType).as("w"))
      val tot = pairs.agg(count(lit(1)).as("np"), sum(col("w")).as("sw"))
      var edges = pairs.crossJoin(broadcast(tot))
        .filter(col("w") * col("np") > col("sw"))
        .select(col("u"), col("v"))
        .localCheckpoint()
      val degAll = edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
        .persist()
      var rounds = 0
      var done = false
      while (!done && rounds < 25) {
        val deg = edges.select(col("u").as("node"))
          .unionByName(edges.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("dg"))
        val bad = deg.filter(col("dg") < 3).select(col("node"))
        // UNHINTED anti-joins (r15 VERDICT #3): at "nodes = hosts"
        // scale the early peel sets are a large fraction of all nodes —
        // not broadcast-sized. AQE broadcasts on its own when the peel
        // set is actually small (as here, ≤ #nations rows).
        if (bad.isEmpty) done = true
        else edges = edges
          .join(bad.select(col("node").as("u")), Seq("u"), "left_anti")
          .join(bad.select(col("node").as("v")), Seq("v"), "left_anti")
          .localCheckpoint()
        rounds += 1
      }
      val core = edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node")))
        .distinct()
        .withColumn("inc", lit(1))
      val nation = T(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      degAll.join(broadcast(nation), col("node") === col("n_nationkey"))
        .join(core, Seq("node"), "left")
        .select(col("n_name"), col("degree"),
          coalesce(col("inc"), lit(0)).as("in_3core"))
        .orderBy(col("n_name"))
    },

    // ---- q215 (round 16): DEDUP-AWARE TRAINING WEIGHTS — the softer
    // alternative to keep-one dedup (q125 DROPS all but the canonical;
    // recent pipelines instead DOWN-WEIGHT so each duplicate cluster
    // contributes one document's worth of loss — repeated boilerplate
    // stops dominating gradients without discarding unique suffixes):
    // every doc gets weight 1e6 DIV |cluster| micros (non-clustered
    // docs weigh exactly 1e6), clusters from the SAME min-label
    // propagation q76/q125 ship (the no-drift rule — weighting and
    // dedup must agree on what a duplicate is). Per source: doc count,
    // clustered count, and the exact weighted corpus mass. 100 TB
    // shape: the cluster frame is near-dup nodes only (tiny), its size
    // table a keyed agg; the corpus side is one scan + two UNHINTED
    // keyed left joins (AQE broadcasts the tiny sides on its own — the
    // q199 de-hinting rule); one final per-source agg. ----
    QueryDef("q215_dedup_weighting", dedupWeightingOracle) { (s, dir) =>
      val comp = dupClusterAssign(s, dir)
      val csize = comp.groupBy(col("cluster_id")).agg(count(lit(1)).as("csz"))
      T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("source"), col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .join(csize, Seq("cluster_id"), "left")
        .select(col("source"),
          coalesce(col("csz"), lit(1L)).as("csz"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("csz") >= 2, 1L).otherwise(0L)).cast(LongType)
            .as("n_clustered"),
          sum(expr("1000000 DIV csz")).cast(LongType).as("weight_sum_micro"))
        .select(col("source"), col("n_docs"), col("n_clustered"),
          col("weight_sum_micro"),
          expr("weight_sum_micro DIV n_docs").as("mean_weight_micro"))
        .orderBy(col("source"))
    },

    // ---- q216 (round 16): INT8 SCALAR QUANTIZATION (SQ8) — the
    // embedding-storage op every 100 TB vector corpus runs before
    // anything else touches it (fp32 → int8 is 4× less disk and
    // memory-bandwidth for ANN serving; PQ (q109) compresses harder
    // but lossier — SQ8 is the standard first rung): per vector, a
    // max-abs scale, codes q_i = round(x_i / scale * 127), and the
    // EXACT per-vector reconstruction error — each element's squared
    // error is rounded to integer 1e-12 units FIRST, so the sum is
    // order-free integer arithmetic (no float association drift at any
    // parallelism), plus an index-weighted code checksum pinning every
    // code byte. Output is the quantization TABLE (vec_id rows) with
    // the fp32/int8 byte ledger. 100 TB shape: perfectly scan-local —
    // one pass, zero shuffles before the presentation sort; exactly
    // how a quantizing rewrite job must look. ----
    QueryDef("q216_sq8_quantize", sq8QuantizeOracle) { (s, dir) =>
      T(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
        .withColumn("scale", expr("array_max(transform(v, y -> abs(y)))"))
        .withColumn("codes", expr(
          "CASE WHEN scale > 0 THEN transform(v, y -> CAST(round(y / scale * 127, 0) AS BIGINT)) " +
            "ELSE transform(v, y -> CAST(0 AS BIGINT)) END"))
        .select(col("vec_id"), col("label"),
          size(col("v")).cast(LongType).as("n_dims"),
          expr("CAST(round(scale * 1e6, 0) AS BIGINT)").as("scale_micro"),
          expr("aggregate(zip_with(codes, sequence(1, size(codes)), " +
            "(q, i) -> q * CAST(i AS BIGINT)), CAST(0 AS BIGINT), (a, b) -> a + b)")
            .as("code_checksum"),
          expr("aggregate(zip_with(v, codes, (y, q) -> " +
            "CAST(round((y - q * scale / 127) * (y - q * scale / 127) * 1e12, 0) AS BIGINT)), " +
            "CAST(0 AS BIGINT), (a, b) -> a + b)").as("sse_micro12"),
          (size(col("v")) * 4).cast(LongType).as("bytes_fp32"),
          (size(col("v")) + 8).cast(LongType).as("bytes_sq8"))
        .orderBy(col("vec_id"))
    },

    // ---- q219 (round 16): SALTED SKEW JOIN — the manual hot-key
    // technique the 100 TB playbook needs when AQE can't help (AQE
    // splits skewed SORT-MERGE partitions, but an aggregation key or
    // stream-state key that is 50% one value still serializes on one
    // task): the derived fact key is deliberately skewed (half the
    // corpus shares k=0), the fact side gets a deterministic salt in
    // 0..7 (md5-keyed — reproducible, unlike a RNG), the dim side
    // replicates ×8, and the join runs on (k, salt) — the hot key's
    // rows now land on 8 tasks instead of 1. The ORACLE is the
    // UNSALTED join: salting must be invisible in the result (the
    // exact-equality statement that makes the technique safe), and
    // AnalyticsSpec pins that the salt really splits the hot key 8
    // ways. 100 TB shape: dim replication costs ×8 of a tiny frame;
    // the hot partition shrinks ×8 — the trade that turns a straggler
    // into 8 even tasks. ----
    QueryDef("q219_salted_skew_join", saltedSkewJoinOracle) { (s, dir) =>
      val fact = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          when(col("doc_id") % 10 < 5, lit(0L))
            .otherwise(col("doc_id") % 100).as("k"),
          size(split(lower(col("text")), " ")).cast(LongType).as("n_tok"))
      val dim = fact.select(col("k")).distinct()
        .withColumn("seg", concat(lit("seg"), col("k")))
      val salted = fact.withColumn("salt",
        pmod(conv(substring(md5(concat(lit("salt:"),
          col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType),
          lit(SkewSalts.toLong)))
      val dimR = dim.withColumn("salt",
        explode(expr(s"sequence(0L, ${SkewSalts - 1}L)")))
      salted.join(dimR, Seq("k", "salt"))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast(LongType).as("n_tokens"))
        .orderBy(col("seg"))
    },

    // ---- q233 (round 16): QUALITY × DUPLICATION INTERACTION — the
    // cross-tab behind the folk claim that duplicates skew low-quality
    // (if true, dedup doubles as a quality filter and budgets shift;
    // if false, the two filters are independent and both must run):
    // every doc gets a FIXED quality band (score_micro DIV 100000 —
    // scan-local, deliberately NOT a global ntile, which would need a
    // corpus-wide sort) and its q76 near-dup membership; the table
    // reports per (band, is_dup) counts and each band's duplication
    // rate in micros — the same clusters the dedup family ships, so
    // the interaction is measured against the operators' own
    // definition of a duplicate. 100 TB shape: scoring scan-local;
    // the cluster frame is near-dup nodes only, joined keyed and
    // UNHINTED; output ≤ 11 bands × 2 rows. ----
    QueryDef("q233_quality_dup_interaction", qualityDupOracle) { (s, dir) =>
      val comp = dupClusterAssign(s, dir).select(col("doc_id")).distinct()
        .withColumn("is_dup", lit(1))
      T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("ws", split(lower(col("text")), " "))
        .select(col("doc_id"),
          expr("CAST(round(CAST(size(array_distinct(ws)) AS DOUBLE) / size(ws) * 1000000, 0) AS BIGINT) DIV 100000")
            .as("band"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("band"), coalesce(col("is_dup"), lit(0)).as("is_dup"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_dup")).cast(LongType).as("n_dup"))
        .select(col("band"), col("n_docs"), col("n_dup"),
          expr("(n_dup * 1000000) DIV n_docs").as("dup_rate_micro"))
        .orderBy(col("band"))
    },

    // ---- q247 (round 19): DELETION PROPAGATION INTO THE STANDING
    // SKETCH/GRAPH ARTIFACTS (VERDICT r18 missing #2) — right-to-be-
    // forgotten must reach the write-once index structures, not just
    // the export (q224): a deletion cohort (doc_id/vec_id % 17 = 5)
    // lands as a TOMBSTONE frame and every standing artifact is probed
    // through a merge-on-read anti-join. Three tiers, each with its
    // honest semantics:
    //   * bands + pairs: per-doc/per-pair rows — anti-join EQUALS a
    //     full rebuild on the filtered corpus structurally, so
    //     merge-on-read alone is complete (the oracle recomputes the
    //     live counts from raw text);
    //   * dup clusters: the NAIVE anti-join of the stored assignment is
    //     NOT enough — a deleted doc's id can survive as another doc's
    //     cluster LABEL (n_label_leaks_naive counts them) and orphaned
    //     members keep stale rows; the FOLD (re-propagation over live
    //     pairs — what artifact compaction runs) fixes both, and
    //     n_cluster_drift measures exactly how far naive was from
    //     correct (the fold's oracle is a second recursive walk);
    //   * the NN graph: anti-join makes deleted vectors invisible
    //     (edges from AND to them drop) at the honest cost of degraded
    //     degree — n_nodes_degraded counts live nodes that lost edges
    //     (a rebuild refills them; that is q248-style compaction's
    //     job). 100 TB shape: tombstones are request-sized broadcasts;
    //     every anti-join is keyed on the artifact's own bucket column;
    //     the fold runs over the (tiny) live pair frame, never the
    //     corpus. ----
    QueryDef("q247_sketch_delete_propagation", sketchDeleteOracle) { (s, dir) =>
      val tombsD = T(s, dir, "documents")
        .filter(col("doc_id") % DelMod === DelRem).select(col("doc_id")).persist()
      val tombsV = T(s, dir, "embeddings")
        .filter(col("vec_id") % DelMod === DelRem).select(col("vec_id")).persist()
      sketchDeleteStats(s, dir, tombsD, tombsV)
    },

    // ---- q248 (round 19): BANDS-DELTA COMPACTION (VERDICT r18 missing
    // #3) — the ingest loops (q111/q154/q240) append SketchStore band
    // DELTAS forever; without a fold, merge-on-read probe amplification
    // grows unboundedly with ingest time. This is the fold: the q210
    // export-compaction pattern applied to the sketch store. The
    // lifecycle (SketchStore.ensureCompactedBands, write-once per
    // corpus) builds a base artifact missing the stream cohort
    // (doc_id % 13 = 7), appends the cohort's band rows to a delta in
    // two simulated micro-batches, records the merge-on-read probe (the
    // q41 collision-pair count over base ∪ delta), FOLDS delta into a
    // NEW immutable layer committed by the atomic pointer flip (q241
    // protocol — readers mid-probe keep the superseded layer), records
    // the same probe over the compacted layer alone, and truncates the
    // consumed delta. The entry replays the recorded ledger and LIVE-
    // diffs the compacted table against the standing full `bands`
    // artifact (full outer join, 0 rows differ). The oracle recomputes
    // every number from raw text — base/delta/compacted row counts from
    // the banding transform, both probes as the pair count — so probe
    // equality across the fold is hash-proven, not just asserted.
    // 100 TB shape: the fold is one union + one bucketed write (the
    // same layout, one file per bucket restored); probes are keyed
    // self-joins on (band, key); the pointer flip is one metadata
    // rename. ----
    QueryDef("q248_bands_compaction", bandsCompactionOracle) { (s, dir) =>
      val (tbl, logDir) = SketchStore.ensureCompactedBands(s, dir)
      val log = s.read.parquet(logDir)
      val comp = s.table(tbl).select(col("doc_id"), col("band"), col("key"))
        .withColumn("in_c", lit(1))
      val full = SketchStore.bands(s, dir)
        .select(col("doc_id"), col("band"), col("key"))
        .withColumn("in_f", lit(1))
      val diff = comp.join(full, Seq("doc_id", "band", "key"), "full_outer")
        .filter(col("in_c").isNull || col("in_f").isNull)
      log.crossJoin(diff.agg(count(lit(1)).as("full_diff")))
        .select(col("n_base"), col("n_delta"), col("n_compacted"),
          col("probe_pre"), col("probe_post"), col("delta_after"),
          col("full_diff"))
    }
  )

  /** DuckDB mirror of q248: base/delta/compacted row counts from the
    * banding transform over raw text, both probes recomputed as the q41
    * collision-pair count (pre = post: base ∪ delta IS the full corpus
    * banding), the consumed delta and the live diff pinned empty. */
  private def bandsCompactionOracle: String =
    s"""WITH $minhashPairsCte
       |SELECT
       |  (SELECT COUNT(*) FROM bands WHERE doc_id % 13 <> 7) AS n_base,
       |  (SELECT COUNT(*) FROM bands WHERE doc_id % 13 = 7) AS n_delta,
       |  (SELECT COUNT(*) FROM bands) AS n_compacted,
       |  (SELECT COUNT(*) FROM pairs) AS probe_pre,
       |  (SELECT COUNT(*) FROM pairs) AS probe_post,
       |  CAST(0 AS BIGINT) AS delta_after,
       |  CAST(0 AS BIGINT) AS full_diff""".stripMargin

  // q247 deletion cohort: doc_id/vec_id % 17 == 5 plays the
  // right-to-be-forgotten request batch.
  private[queries] final val DelMod = 17
  private[queries] final val DelRem = 5

  /** q247's merge-on-read deletion reconciliation over arbitrary
    * tombstone frames — factored (round 19) so the batch entry (q247,
    * predicate-derived tombstones) and the at-ingest twin (q254,
    * tombstones accumulated from bus events) compute the IDENTICAL row
    * and share ONE oracle (the q209/q217/q246 twin convention). */
  private[queries] def sketchDeleteStats(
      s: SparkSession, dir: String,
      tombsD: DataFrame, tombsV: DataFrame): DataFrame = {
    val liveBands = SketchStore.bands(s, dir)
      .join(tombsD, Seq("doc_id"), "left_anti")
    val livePairs = SketchStore.mhPairs(s, dir)
      .join(tombsD.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(tombsD.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      .persist()
    val naive = SketchStore.dupClusters(s, dir)
      .join(tombsD, Seq("doc_id"), "left_anti").persist()
    val folded = dupClusterPropagate(s,
      livePairs.select(col("doc_a"), col("doc_b"))).persist()
    val drift = naive.as("n").join(folded.as("f"), Seq("doc_id"), "full_outer")
      .filter(!(col("n.cluster_id") <=> col("f.cluster_id")))
    val g = SketchStore.nnGraph(s, dir)
    val gLiveU = g.join(tombsV.select(col("vec_id").as("u")), Seq("u"), "left_anti")
      .persist()
    val liveG = gLiveU
      .join(tombsV.select(col("vec_id").as("w")), Seq("w"), "left_anti")
      .persist()
    val degB = gLiveU.groupBy(col("u")).agg(count(lit(1)).as("db"))
    val degA = liveG.groupBy(col("u")).agg(count(lit(1)).as("da"))
    val degraded = degB.join(degA, Seq("u"), "left")
      .filter(coalesce(col("da"), lit(0L)) < col("db"))
    val leakN = naive.join(tombsD.select(col("doc_id").as("cluster_id")),
      Seq("cluster_id"), "left_semi")
    val leakF = folded.join(tombsD.select(col("doc_id").as("cluster_id")),
      Seq("cluster_id"), "left_semi")
    tombsD.agg(count(lit(1)).as("n_tombs_docs"))
      .crossJoin(tombsV.agg(count(lit(1)).as("n_tombs_vecs")))
      .crossJoin(liveBands.agg(count(lit(1)).as("n_bands_live")))
      .crossJoin(livePairs.agg(count(lit(1)).as("n_pairs_live")))
      .crossJoin(naive.agg(count(lit(1)).as("n_clusters_naive")))
      .crossJoin(folded.agg(count(lit(1)).as("n_clusters_folded")))
      .crossJoin(leakN.agg(count(lit(1)).as("n_label_leaks_naive")))
      .crossJoin(leakF.agg(count(lit(1)).as("n_label_leaks_folded")))
      .crossJoin(drift.agg(count(lit(1)).as("n_cluster_drift")))
      .crossJoin(liveG.agg(count(lit(1)).as("n_edges_live")))
      .crossJoin(degraded.agg(count(lit(1)).as("n_nodes_degraded")))
  }

  /** q247's oracle, exposed for the at-ingest twin (q254) — shared
    * verbatim, the twin convention. */
  private[queries] def sketchDeleteOracleShared: String = sketchDeleteOracle

  /** DuckDB mirror of q247: the full-corpus recursive walk (naive leg),
    * a SECOND recursive walk over the live pair set (the fold), the
    * descent chain's converged graph for the edge leg — every count
    * recomputed from raw text/embeddings, so a stale artifact or a
    * drifted anti-join is a hash FAIL. */
  private def sketchDeleteOracle: String = {
    val gFinal = PipelineRetrieval.nnDescentFinalCte
    s"""WITH RECURSIVE $dupClusterCte,
       |${PipelineRetrieval.nnDescentCtes()},
       |tombs AS (SELECT doc_id FROM documents WHERE doc_id % $DelMod = $DelRem),
       |vtombs AS (SELECT vec_id FROM embeddings WHERE vec_id % $DelMod = $DelRem),
       |liveb AS (
       |  SELECT * FROM bands WHERE doc_id NOT IN (SELECT doc_id FROM tombs)),
       |livep AS MATERIALIZED (
       |  SELECT * FROM pairs
       |  WHERE doc_a NOT IN (SELECT doc_id FROM tombs)
       |    AND doc_b NOT IN (SELECT doc_id FROM tombs)),
       |naive AS MATERIALIZED (
       |  SELECT doc_id, cluster_id FROM comp
       |  WHERE doc_id NOT IN (SELECT doc_id FROM tombs)),
       |edges2 AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM livep
       |  UNION ALL SELECT doc_b, doc_a FROM livep),
       |nodes2 AS (SELECT DISTINCT src AS id FROM edges2),
       |reach2(id, r) AS (
       |  SELECT id, id FROM nodes2
       |  UNION
       |  SELECT e.dst, r.r FROM reach2 r JOIN edges2 e ON e.src = r.id),
       |folded AS MATERIALIZED (
       |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach2 GROUP BY id),
       |drift AS (
       |  SELECT COALESCE(n.doc_id, f.doc_id) AS doc_id
       |  FROM naive n FULL OUTER JOIN folded f ON n.doc_id = f.doc_id
       |  WHERE n.cluster_id IS DISTINCT FROM f.cluster_id),
       |glu AS MATERIALIZED (
       |  SELECT * FROM $gFinal WHERE u NOT IN (SELECT vec_id FROM vtombs)),
       |liveg AS MATERIALIZED (
       |  SELECT * FROM glu WHERE w NOT IN (SELECT vec_id FROM vtombs)),
       |degb AS (SELECT u, COUNT(*) AS db FROM glu GROUP BY u),
       |dega AS (SELECT u, COUNT(*) AS da FROM liveg GROUP BY u)
       |SELECT
       |  (SELECT COUNT(*) FROM tombs) AS n_tombs_docs,
       |  (SELECT COUNT(*) FROM vtombs) AS n_tombs_vecs,
       |  (SELECT COUNT(*) FROM liveb) AS n_bands_live,
       |  (SELECT COUNT(*) FROM livep) AS n_pairs_live,
       |  (SELECT COUNT(*) FROM naive) AS n_clusters_naive,
       |  (SELECT COUNT(*) FROM folded) AS n_clusters_folded,
       |  (SELECT COUNT(*) FROM naive
       |   WHERE cluster_id IN (SELECT doc_id FROM tombs)) AS n_label_leaks_naive,
       |  (SELECT COUNT(*) FROM folded
       |   WHERE cluster_id IN (SELECT doc_id FROM tombs)) AS n_label_leaks_folded,
       |  (SELECT COUNT(*) FROM drift) AS n_cluster_drift,
       |  (SELECT COUNT(*) FROM liveg) AS n_edges_live,
       |  (SELECT COUNT(*) FROM degb LEFT JOIN dega USING (u)
       |   WHERE COALESCE(dega.da, 0) < degb.db) AS n_nodes_degraded""".stripMargin
  }

  /** The q100 pipeline with K as the scale knob — cells bound the
    * quadratic within-cell cosine work, so a C×-bigger corpus runs with
    * C×-more cells to keep each cell O(1) (the production rule the q100
    * design comment states; ScaleStressSpec runs it at 10×/K=80 and
    * asserts the plan shape survives and runtime stays ~linear). */
  private[graft] def semanticDedupAt(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = T(s, dir, "embeddings").select(
      col("vec_id"), col("embedding"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    // K=8 (the oracle-pinned default) reads the stored SketchStore
    // assignment (round 17, VERDICT r16 #1) — the same artifact q189's
    // semantic family grades; other K (the ScaleStress scale knob)
    // computes inline as before.
    val members = (if (k == 8)
        SketchStore.kMembers(s, dir)
          .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      else Kmeans.twoRoundAssign(e, k))
      .select(col("cluster_id"), col("vec_id"), col("embedding"))
      .persist()
    val a = members.select(
      col("cluster_id"), col("vec_id").as("va"), col("embedding").as("ea"))
    val b = members.select(
      col("cluster_id"), col("vec_id").as("vb"), col("embedding").as("eb"))
    val dropped = a.join(b, Seq("cluster_id"))
      .filter(col("va") < col("vb"))
      .filter(round(expr("cosine_similarity(ea, eb)"), 6) >= SEMDEDUP_COS)
      .select(col("cluster_id"), col("vb")).distinct()
    members.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
      .join(
        dropped.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_dropped")),
        Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_members") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy(col("cluster_id"))
  }

  /** DuckDB mirror of q194: q153's edge CTEs + 25 peel rounds unrolled
    * as generated chained MATERIALIZED CTEs (25 ≥ #nations bounds the
    * fixpoint; converged rounds no-op, so Spark's early-exit and the
    * fixed unroll agree exactly). */
  private def kcoreOracle: String = {
    val rounds = (1 to 25).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, count(*) AS dg FROM (
         |    SELECT u AS node FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1}) x$i
         |  GROUP BY node),
         |e$i AS MATERIALIZED (
         |  SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT node FROM d$i WHERE dg >= 3)
         |    AND v IN (SELECT node FROM d$i WHERE dg >= 3))""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (
       |  SELECT LEAST(c.c_nationkey, s.s_nationkey) AS u,
       |         GREATEST(c.c_nationkey, s.s_nationkey) AS v, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  WHERE c.c_nationkey <> s.s_nationkey
       |  GROUP BY 1, 2),
       |tot AS (SELECT COUNT(*) AS np, SUM(w) AS sw FROM p),
       |e0 AS MATERIALIZED (SELECT u, v FROM p, tot WHERE w * tot.np > tot.sw),
       |$rounds,
       |deg AS (
       |  SELECT node, COUNT(*) AS degree FROM (
       |    SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0) dd
       |  GROUP BY node),
       |core AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT u AS node FROM e25 UNION ALL SELECT v AS node FROM e25) cc)
       |SELECT n.n_name, d.degree,
       |  CASE WHEN core.node IS NOT NULL THEN 1 ELSE 0 END AS in_3core
       |FROM deg d
       |JOIN nation n ON n.n_nationkey = d.node
       |LEFT JOIN core ON core.node = d.node
       |ORDER BY n.n_name""".stripMargin
  }

  /** DuckDB mirror of q100: the shared [[kmeansAssignCte]] assignment,
    * then within-cell pairwise cosine (same positional-unnest pattern as
    * the q42/q53 oracle) and the same keep-lowest-vec_id drop rule. */
  /** DuckDB mirror of q109: same seed codebooks, same fold distances
    * (SUM over positionally-zipped unnest, the q93-proven equivalence to
    * Spark's sequential fold), argmin ROW_NUMBER (d, c), rank on the
    * rounded adc. */
  private def pqAnnOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |subv AS (
       |  SELECT vec_id, label, m, v[m * $PQ_SUB + 1 : m * $PQ_SUB + $PQ_SUB] AS sub
       |  FROM e, unnest(generate_series(0, ${PQ_M - 1})) AS u(m)),
       |cb AS (
       |  SELECT m, vec_id AS c, sub AS csub FROM subv
       |  WHERE vec_id BETWEEN 1 AND $PQ_K),
       |pe AS (
       |  SELECT s.vec_id, s.label, s.m, cb.c,
       |    unnest(s.sub) AS x, unnest(cb.csub) AS y
       |  FROM subv s JOIN cb USING (m) WHERE s.vec_id <> 0),
       |de AS (
       |  SELECT vec_id, label, m, c, SUM((x - y) * (x - y)) AS d
       |  FROM pe GROUP BY 1, 2, 3, 4),
       |enc AS (
       |  SELECT vec_id, label, m, c AS code FROM (
       |    SELECT vec_id, label, m, c,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
       |    FROM de) WHERE rn = 1),
       |pq AS (
       |  SELECT q.m, cb.c, unnest(q.sub) AS x, unnest(cb.csub) AS y
       |  FROM subv q JOIN cb USING (m) WHERE q.vec_id = 0),
       |lut AS (SELECT m, c, SUM((x - y) * (x - y)) AS ld FROM pq GROUP BY 1, 2)
       |SELECT enc.vec_id, enc.label, round(SUM(lut.ld), 6) AS adc_r
       |FROM enc JOIN lut ON enc.m = lut.m AND enc.code = lut.c
       |GROUP BY 1, 2
       |ORDER BY adc_r, enc.vec_id
       |LIMIT 10""".stripMargin

  private def semanticDedupOracle: String =
    s"""WITH $kmeansAssignCte,
       |pr AS (
       |  SELECT aa.cid, a.vec_id AS va, b.vec_id AS vb,
       |    unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
       |  FROM embeddings a JOIN a2 aa ON a.vec_id = aa.vec_id
       |  JOIN a2 ab ON aa.cid = ab.cid AND aa.vec_id < ab.vec_id
       |  JOIN embeddings b ON b.vec_id = ab.vec_id),
       |cs AS (
       |  SELECT cid, va, vb, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
       |  FROM pr GROUP BY 1, 2, 3),
       |dr AS (
       |  SELECT DISTINCT cid, vb FROM cs
       |  WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= $SEMDEDUP_COS),
       |mem AS (SELECT cid, COUNT(*) AS n_members FROM a2 GROUP BY cid),
       |dc AS (SELECT cid, COUNT(*) AS n_dropped FROM dr GROUP BY cid)
       |SELECT mem.cid AS cluster_id, mem.n_members,
       |  COALESCE(dc.n_dropped, 0) AS n_dropped,
       |  mem.n_members - COALESCE(dc.n_dropped, 0) AS n_kept
       |FROM mem LEFT JOIN dc USING (cid)
       |ORDER BY cluster_id""".stripMargin

  /** q135/q165's shared oracle: the FULL SCD2 rebuild. q165 (the
    * incremental upsert) deliberately shares it — hash equality with
    * the rebuild is the correctness statement for incremental
    * maintenance. A def, not a val: it is referenced during `defs`
    * object init, before later vals are assigned (the BpeMerges
    * lesson). */
  private def Scd2OracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
      |c AS (
      |  SELECT user_id, event_type, tsec, event_id,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
      |v AS (
      |  SELECT user_id, event_type, tsec,
      |    CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY tsec, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
      |  FROM c),
      |g AS (
      |  SELECT user_id, version, MIN(event_type) AS state,
      |    MIN(tsec) AS valid_from_s, COUNT(*) AS n_events
      |  FROM v GROUP BY user_id, version)
      |SELECT user_id, version, state, valid_from_s,
      |  lead(valid_from_s) OVER pv AS valid_to_s,
      |  CAST(CASE WHEN lead(valid_from_s) OVER pv IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current,
      |  n_events
      |FROM g WINDOW pv AS (PARTITION BY user_id ORDER BY version)
      |ORDER BY user_id, version""".stripMargin

  /** The q135 SCD2 build over a (user_id, event_id, event_type, tsec)
    * frame: per user, collapse consecutive same-state runs into
    * [valid_from, valid_to) versions. ONE shuffle keyed by the entity
    * id; the change flag, running version, run aggregate, and interval
    * stitch all reuse that partitioning. Shared by q135 (full corpus)
    * and q165 (affected-user slices) so the two cannot drift. */
  private def scd2Build(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"), col("event_id"))
    val pv = Window.partitionBy(col("user_id")).orderBy(col("version"))
    ev
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1).otherwise(0))
      .withColumn("version",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(LongType))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("state"),
        min(col("tsec")).as("valid_from_s"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("version"), col("state"), col("valid_from_s"),
        lead(col("valid_from_s"), 1).over(pv).as("valid_to_s"),
        when(lead(col("valid_from_s"), 1).over(pv).isNull, 1L).otherwise(0L).as("is_current"),
        col("n_events"))
  }

  // q165's stored base: the SCD2 history of the NON-batch events,
  // written once per (JVM, source dir) as a user-bucketed table — the
  // standing dimension a CDC pipeline maintains (the q110 standing-index
  // / ensureBenchGramTable pattern).
  private val scd2BaseDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def ensureScd2Base(s: SparkSession, dir: String): String = synchronized {
    val dirKey = graft.BuildPaths.dirKey(dir)
    val tbl = s"graft_scd2_base_$dirKey"
    if (!(scd2BaseDirs.contains(dir) && s.catalog.tableExists(tbl))) {
      val root = graft.BuildPaths.scratch(s"scd2_base/$dirKey")
      scd2Build(
        T(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_timestamp(col("ts")).as("tsec"))
          .filter(col("event_id") % 200 =!= 0))
        .write.mode("overwrite")
        .bucketBy(8, "user_id").sortBy("user_id", "version")
        .option("path", s"$root/$tbl")
        .format("parquet").saveAsTable(tbl)
      scd2BaseDirs.add(dir)
    }
    tbl
  }

  /** Spread a 16-bit value's bits to the even positions of a 32-bit word
    * (the classic mask-shift construction); building block of [[zValue]].
    */
  private def spread16(c: Column): Column = {
    val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(16711935L)) //   0x00FF00FF
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(252645135L)) //  0x0F0F0F0F
    val d = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(858993459L)) //  0x33333333
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(1431655765L)) //        0x55555555
  }

  /** Morton z-value of two 16-bit dimensions: x on even bits, y on odd.
    * Pure integer expressions — stays inside whole-stage codegen. Exposed
    * to AnalyticsSpec's bijectivity property test.
    */
  private[queries] def zValue(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))
}
