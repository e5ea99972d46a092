package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables

/** Write-once STORED sketch artifacts for the near-dup families — the
  * `ensureBpeModel` pattern (Pipeline.scala, `bpe_model` scratch)
  * applied to the signature/bucket frames (VERDICT r16 #1).
  *
  * Before this layer every near-dup query recomputed its sketch frame
  * from the corpus scan (cached per-query, but rebuilt per query), and
  * q189's five-family sweep rebuilt ALL of them — 9.7 s, the bench's
  * heaviest entry. The honest 100 TB architecture is what the q110
  * design comment already promised: "a stored bucketed table
  * maintained across crawls". Each family's frame is now computed ONCE
  * per corpus dir, written bucketed+sorted on its join key, and every
  * consumer — the per-family dedup queries (q41/q44/q45/q46/q54/q107/
  * q110), the cluster assignment behind q76/q125, q100's semantic
  * dedup, and q189's cross-method sweep — reads the SAME artifact in
  * place (StorageLayoutSpec pins the artifact path in the consumer
  * plans). At scale the self-joins become co-located sort-merge joins
  * over the bucketed layout with zero exchange on the stored side; at
  * test SF Catalyst is free to broadcast the (tiny) tables instead.
  *
  * Contents are bit-identical to the inline computations they replace
  * (same codegen kernels, same expressions), so every oracle pairing
  * is unchanged. The build cost lands on the first toucher — in Bench
  * that is the discarded warm-up pass.
  */
object SketchStore {

  private val BucketN = 8

  // Derived from the shared kernel constants in graft.functions.Sketches
  // (the same formulas Pipeline/Analytics use for their oracle
  // generators — both sides derive from one constant set, so the stored
  // frame and the DuckDB mirrors cannot drift).
  private val K = graft.functions.Sketches.K
  private val bandPairs: Seq[(Int, Int)] = (0 until K / 2).map(j => (2 * j, 2 * j + 1))
  private val SIMCHUNKS = graft.functions.Sketches.SIMCHUNKS
  private val CHUNKBITS = graft.functions.Sketches.SIMBITS / SIMCHUNKS

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // path -> (length, mtime, footer-tail CRC); see sourceFingerprint.
  // Keyed by PATH with the (length, mtime) stamp in the VALUE (round 21,
  // ADVICE r20): a regeneration replaces the entry instead of leaking a
  // new key per (length, mtime) generation, so a long-lived ingest JVM
  // holds at most one entry per source leaf.
  private val crcCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, String)]()

  private val layerSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Content fingerprint of the source tables the sketches derive from.
    * Folded into every artifact's table name AND path, so regenerating
    * the fixture under the same dir invalidates all sketch/pair
    * consumers by construction instead of silently serving stale
    * artifacts (ADVICE r17). Round 19 (ADVICE r18): a MISSING source
    * table fails loudly (it used to fingerprint as 'n:0:0' and build
    * empty artifacts), and beyond (size, mtime) the fingerprint folds
    * in a CRC32 of each file's 64 KiB TAIL — the parquet footer, whose
    * row-group stats/offsets change on any regeneration — so a rewrite
    * that preserves byte length within the same mtime second still
    * invalidates. Spark writes directories; for those the leaves are
    * enumerated (sorted) and the last leaf's tail is CRC'd. */
  private def sourceFingerprint(dir: String): String = {
    def leaves(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        f.listFiles().toSeq.sortBy(_.getName)
          .flatMap(leaves).filter(_.getName.endsWith(".parquet"))
      else Seq(f)
    // CRCs are memoized per path, validated on (length, mtime): the
    // fingerprint sits on per-query and per-micro-batch artifact-
    // resolution paths, and without the memo every call re-read 64 KiB
    // per leaf (a steady I/O tax in ingest loops). A regeneration
    // changes length or mtime, invalidating (and REPLACING) the entry,
    // so the detection property is unchanged — with ONE documented
    // racy-stat window (ADVICE r20, git's classic index-race shape): an
    // in-place rewrite that preserves byte length AND lands within the
    // filesystem's mtime granularity of the memoized read serves the
    // stale CRC. Spark never rewrites parquet in place (writes go to
    // fresh part files under fresh directories), so the window is
    // unreachable for fixture regenerations; a hand-doctored same-size
    // same-second rewrite is accepted as out of scope, exactly like
    // git's racy-stat documentation.
    def tailCrc(f: java.io.File): String = {
      val (len, mt) = (f.length, f.lastModified)
      def compute(): String = {
        val crc = new java.util.zip.CRC32()
        val raf = new java.io.RandomAccessFile(f, "r")
        try {
          val tail = math.min(len, 65536L)
          raf.seek(len - tail)
          val buf = new Array[Byte](tail.toInt)
          raf.readFully(buf)
          crc.update(buf)
        } finally raf.close()
        java.lang.Long.toHexString(crc.getValue)
      }
      crcCache.compute(f.getAbsolutePath, (_, old) => old match {
        case (`len`, `mt`, _) => old
        case _ => (len, mt, compute())
      })._3
    }
    val sig = Seq("documents.parquet", "embeddings.parquet").map { n =>
      val f = new java.io.File(dir, n)
      require(f.exists(),
        s"SketchStore: source table '$n' missing under '$dir' — refusing " +
          "to fingerprint (and silently build sketches over) a nonexistent corpus")
      val ls = leaves(f)
      require(ls.nonEmpty && ls.forall(_.length > 0),
        s"SketchStore: source table '$n' under '$dir' has no non-empty parquet leaves")
      // EVERY leaf's tail is CRC'd (ADVICE r19: tail-of-last-only let a
      // regeneration that rewrote a non-last leaf within the same byte
      // length and mtime second fingerprint identically) — still cheap,
      // 64 KiB per file.
      val meta = ls.map(l =>
        s"${l.getName}:${l.length}:${l.lastModified}:${tailCrc(l)}").mkString(",")
      s"$n:$meta"
    }.mkString("|")
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sig))
  }

  /** Register `tbl` over an already-committed layer using the sidecar
    * DDL captured at write time (ADVICE r18: re-inferring the schema
    * from parquet made every column nullable — the re-registered table
    * could drift from the saveAsTable original; the sidecar pins it). */
  private def registerAt(
      s: SparkSession, tbl: String, root: String, layer: String,
      bucketCols: Seq[String]): Unit = {
    val ddl = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_schema.ddl")), "UTF-8")
    val cols = bucketCols.mkString(", ")
    s.sql(
      s"""CREATE TABLE $tbl ($ddl)
         |USING parquet CLUSTERED BY ($cols) SORTED BY ($cols)
         |INTO $BucketN BUCKETS LOCATION '$root/$layer'""".stripMargin)
  }

  /** Write one complete immutable layer under the artifact root, record
    * the sidecar DDL, and atomically commit the pointer (the q241
    * snapshot protocol, shared with Curation.commitPointer). The
    * `repartition` on the bucket columns uses the same murmur hash as
    * the bucket layout, so each of the [[BucketN]] tasks writes exactly
    * one file per bucket — one file per bucket total. */
  private def writeLayer(
      s: SparkSession, tbl: String, root: String, bucketCols: Seq[String],
      df: DataFrame, stageTbl: String): Unit = {
    // Layer name layout: layer-<perJvmSeq>-<epochMillis>-<nanoHex>. The
    // wall-clock epoch is PERSISTED in the name (round 21, ADVICE r20)
    // so gcWithRetention's recency order survives JVM restarts — the
    // per-JVM sequence resets to 1 in a new JVM and, on an mtime tie, a
    // pre-restart layer's high seq would have sorted as newer than a
    // genuinely newer post-restart layer, evicting exactly the layer a
    // pre-refresh reader still holds.
    val layer = s"layer-${layerSeq.incrementAndGet()}-${System.currentTimeMillis()}-" +
      java.lang.Long.toHexString(System.nanoTime())
    df.repartition(BucketN, bucketCols.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(BucketN, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", s"$root/$layer")
      .format("parquet").saveAsTable(stageTbl)
    val ddlPath = java.nio.file.Paths.get(root, "_schema.ddl")
    java.nio.file.Files.write(ddlPath, s.table(stageTbl).schema.toDDL.getBytes("UTF-8"))
    Curation.commitPointer(root, layer)
    if (stageTbl != tbl) {
      // Stage-name write (a refresh): repoint the existing catalog
      // entry at the new layer. ALTER TABLE SET LOCATION is one
      // metadata mutation — a concurrent reader resolving the table
      // name sees the old location or the new one, never a
      // table-not-found window (ADVICE r19: the previous DROP +
      // re-register swap had exactly that window, because readers
      // never take the per-artifact lock). Schema and bucket layout
      // are unchanged by construction (the sidecar DDL pins them).
      s.sql(s"DROP TABLE IF EXISTS $stageTbl")
      if (s.catalog.tableExists(tbl)) {
        s.sql(s"ALTER TABLE $tbl SET LOCATION '$root/$layer'")
        s.catalog.refreshTable(tbl) // drop cached plans/file listings
      } else registerAt(s, tbl, root, layer, bucketCols)
    }
  }

  private def artifactRoot(dir: String, tbl: String): String =
    s"${graft.BuildPaths.scratch(s"sketch_store/${graft.BuildPaths.dirKey(dir)}")}/$tbl"

  /** Write-once, pointer-committed artifact build (round 19, VERDICT
    * r18 #5): each artifact lives under its own root as immutable
    * `layer-*` directories plus a `_current` pointer committed via
    * temp-write + ATOMIC_MOVE (the q241 protocol). Builds land as a
    * complete layer BEFORE the pointer moves, so a session resolving
    * the artifact concurrently sees the old layer or the new one, never
    * a partial write; superseded layers stay on disk (readers holding a
    * resolved DataFrame keep reading immutable files). A fresh session
    * in the same or a later JVM re-registers the committed layer from
    * the sidecar DDL instead of rebuilding. Locking is per artifact
    * key, not global, so unrelated artifact builds don't serialize. */
  private def ensureTable(
      s: SparkSession, dir: String, short: String, bucketCols: Seq[String])(
      build: => DataFrame): String = {
    val tbl = s"graft_sk_${short}_${graft.BuildPaths.dirKey(dir)}_${sourceFingerprint(dir)}"
    val lock = locks.computeIfAbsent(tbl, _ => new Object)
    lock.synchronized {
      if (!s.catalog.tableExists(tbl)) {
        val root = artifactRoot(dir, tbl)
        val committed = new java.io.File(root, "_current").exists()
        val layer = if (committed) Curation.resolveSnapshot(root) else ""
        if (committed && new java.io.File(s"$root/$layer", "_SUCCESS").exists())
          registerAt(s, tbl, root, layer, bucketCols)
        else
          writeLayer(s, tbl, root, bucketCols, build, tbl)
      }
    }
    tbl
  }

  /** Rebuild an existing artifact as a NEW immutable layer + atomic
    * pointer flip (the compaction path, q248): concurrent readers that
    * already resolved keep the old layer's immutable files; the catalog
    * entry swaps to the new layer only after the pointer commit. */
  private[graft] def refreshTable(
      s: SparkSession, dir: String, short: String, bucketCols: Seq[String])(
      build: => DataFrame): String = {
    val tbl = s"graft_sk_${short}_${graft.BuildPaths.dirKey(dir)}_${sourceFingerprint(dir)}"
    val lock = locks.computeIfAbsent(tbl, _ => new Object)
    lock.synchronized {
      val root = artifactRoot(dir, tbl)
      val stage = tbl + "_stage"
      s.sql(s"DROP TABLE IF EXISTS $stage")
      writeLayer(s, tbl, root, bucketCols, build, stage)
      // Retention-guarded GC wired into the refresh/fold path (round 20,
      // VERDICT r19 #3): superseded layers no longer accumulate until a
      // manual maintenance window — each refresh keeps the committed
      // layer plus the newest [[GcRetainSuperseded]] superseded layers
      // (the reader horizon: a reader that resolved before THIS refresh
      // is still reading the immediately-superseded layer, which
      // survives; only layers at least two refresh generations old are
      // collected — the Iceberg expire_snapshots shape with a
      // generation-count lease instead of a timestamp one).
      gcWithRetention(root, Curation.resolveSnapshot(root))
    }
    tbl
  }

  /** The banding transform (text → signature → [[bandPairs]] (band, key)
    * rows per doc) shared by the batch artifact build ([[bands]]) and the
    * streaming index-maintenance loop (q111/q154/q240's foreachBatch) —
    * ONE code path, so a stream-maintained delta and the stored base
    * artifact cannot drift (VERDICT r17 #3). Expects (doc_id, lang,
    * text); rows with fewer than 3 tokens (null signature) are dropped. */
  private[graft] def bandRowsOf(df: DataFrame): DataFrame = {
    df.select(col("doc_id"), col("lang"), expr("graft_minhash_sig(text)").as("sig"))
      .filter(col("sig").isNotNull) // null = fewer than 3 tokens
      .select(col("doc_id"), col("lang"),
        expr(bandPairs.zipWithIndex.map { case ((x, y), j) =>
          s"$j, concat(sig[$x], '_', sig[$y])"
        }.mkString(s"stack(${bandPairs.size}, ", ", ", ") as (band, key)")))
  }

  /** MinHash band rows `(doc_id, lang, band, key)` — q41's 6x2 banding
    * over the 12-permutation signature, bucketed on the band join key.
    * This IS the standing band index q110 probes per crawl batch. */
  def bands(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "bands", Seq("band", "key")) {
      bandRowsOf(Tables.load(s, dir, "documents"))
    }
    s.table(tbl)
  }

  private val BandDeltaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.StringType, nullable = true)))

  /** Streaming DELTA layer of the standing band index (VERDICT r17 #3):
    * same schema, bucketing and sketch_store root as the write-once
    * `bands` base artifact, maintained by the ingest loops instead of a
    * parallel ad-hoc parquet dir. An ingest entry RESETS its delta once
    * at start (deterministic replay), appends per micro-batch via
    * [[appendBandsDelta]], and triages against base ∪ delta — batch
    * consumers (q41/q110/q189) keep reading the immutable base.
    *
    * Round 19 (ADVICE r18): the delta table name carries a
    * PER-INVOCATION token (like the UUID bus subjects), so two ingest
    * entries running concurrently in one JVM — or a future parallel
    * harness — can never reset each other's live delta mid-stream. Each
    * invocation's delta is dropped and recreated under its own name;
    * superseded invocations' tiny tables (toy-doc band rows) are left
    * to the JVM's catalog lifetime, the UUID-subject convention. */
  def resetBandsDelta(s: SparkSession, dir: String): String = {
    val dirKey = graft.BuildPaths.dirKey(dir)
    val tbl = s"graft_sk_bandsdelta_${dirKey}_${sourceFingerprint(dir)}" +
      f"_i${layerSeq.incrementAndGet()}%06d" // zero-padded: name order = creation order
    val lock = locks.computeIfAbsent(tbl, _ => new Object)
    lock.synchronized {
      val path = s"${graft.BuildPaths.scratch(s"sketch_store/$dirKey")}/$tbl"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], BandDeltaSchema)
        .write.mode("overwrite")
        .bucketBy(BucketN, "band", "key").sortBy("band", "key")
        .option("path", path)
        .format("parquet").saveAsTable(tbl)
    }
    tbl
  }

  /** Session-catalog guard for the memoized lifecycles: [[compactDone]]
    * is per JVM, but the catalog is per SparkSession — a later suite or
    * session (spark.stop() + getOrCreate) reaches a memoized lifecycle
    * with a FRESH catalog, and the committed layer must re-register
    * from its sidecar DDL (round 20: ScaleStress caught exactly this
    * after StorageLayoutSpec's afterAll). ensureTable is a no-op when
    * the table already exists; the throwing thunk never fires for a
    * completed lifecycle (pointer + sidecar are on disk). */
  private def reRegisterIfMissing(
      s: SparkSession, dir: String, short: String,
      bucketCols: Seq[String]): Unit = {
    ensureTable(s, dir, short, bucketCols) {
      throw new IllegalStateException(
        s"$short lifecycle memoized but its committed artifact is missing on disk")
    }
    ()
  }

  private val compactDone = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test hook (StorageLayoutSpec chaos pins, VERDICT r19 #7): forget a
    * completed lifecycle's in-JVM memo so a spec can simulate a FRESH
    * SESSION (new JVM) arriving at an on-disk state it has doctored
    * into a mid-crash shape. Production code never calls this. */
  private[graft] def forgetLifecycle(keyPrefix: String): Unit = {
    val it = compactDone.iterator()
    while (it.hasNext) if (it.next().startsWith(keyPrefix)) it.remove()
  }

  /** Write-once COMPACTION lifecycle (q248, VERDICT r18 missing #3):
    * the q210 export-compaction pattern applied to the sketch store.
    * Simulates the standing state an ingest loop leaves behind — a
    * base band artifact missing the stream cohort (doc_id % 13 = 7)
    * plus a two-append delta — then FOLDS delta into base as a NEW
    * immutable layer committed by the atomic pointer flip
    * ([[refreshTable]]), and truncates the consumed delta. Probe
    * equality (the q41 collision-pair count over base ∪ delta vs over
    * the compacted layer) and the row ledger are recorded to a log
    * parquet at fold time; the q248 entry replays the log against the
    * DuckDB recomputation and additionally diffs the compacted table
    * against the standing full `bands` artifact live. Runs ONCE per
    * (corpus, JVM); a later JVM reuses the committed layer + log. */
  private[graft] def ensureCompactedBands(s: SparkSession, dir: String): (String, String) = {
    val dirKey = graft.BuildPaths.dirKey(dir)
    val fp = sourceFingerprint(dir)
    val key = s"bandsc_${dirKey}_$fp"
    val tbl = s"graft_sk_bandsc_${dirKey}_$fp"
    val logDir = s"${graft.BuildPaths.scratch(s"sketch_store/$dirKey")}/graft_sk_compactlog_${dirKey}_$fp"
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      if (!compactDone.contains(key)) {
        if (new java.io.File(logDir, "_SUCCESS").exists()) {
          // A previous JVM ran the lifecycle: re-register the committed
          // (compacted) layer; the build thunk must never fire.
          ensureTable(s, dir, "bandsc", Seq("band", "key")) {
            throw new IllegalStateException(
              s"bandsc pointer missing but compact log present at $logDir")
          }
        } else {
          // Crash recovery: the LOG is the lifecycle's commit marker. A
          // bandsc pointer without a log means a previous run died
          // mid-lifecycle (e.g. after the fold, before the ledger) —
          // wipe the partial artifact and start clean, or the
          // already-folded layer would silently serve as the "base".
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          deleteRecursively(new java.io.File(artifactRoot(dir, tbl)))
          val docs = Tables.load(s, dir, "documents")
          ensureTable(s, dir, "bandsc", Seq("band", "key")) {
            bandRowsOf(docs.filter(col("doc_id") % 13 =!= 7))
          }
          val deltaTbl = resetBandsDelta(s, dir)
          // two appends = two simulated micro-batches of the cohort
          appendBandsDelta(bandRowsOf(docs.filter(col("doc_id") % 26 === 7)), deltaTbl)
          appendBandsDelta(bandRowsOf(docs.filter(col("doc_id") % 26 === 20)), deltaTbl)
          def pairCount(b: DataFrame): Long = {
            val x = b.select(col("doc_id"), col("band"), col("key"))
            x.as("a").join(x.as("b"),
                col("a.band") === col("b.band") && col("a.key") === col("b.key")
                  && col("a.doc_id") < col("b.doc_id"))
              .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
          }
          val nBase = s.table(tbl).count()
          val nDelta = s.table(deltaTbl).count()
          // merge-on-read probe BEFORE the fold: base ∪ delta
          val probePre = pairCount(s.table(tbl).unionByName(s.table(deltaTbl)))
          // THE FOLD: delta into a new immutable layer + atomic pointer
          // flip — readers mid-probe keep the superseded layer.
          refreshTable(s, dir, "bandsc", Seq("band", "key")) {
            s.table(tbl).unionByName(s.table(deltaTbl))
          }
          val probePost = pairCount(s.table(tbl))
          val nComp = s.table(tbl).count()
          truncateBandsDelta(s, dir, deltaTbl) // the fold consumed the delta
          val deltaAfter = s.table(deltaTbl).count()
          import s.implicits._
          Seq((nBase, nDelta, nComp, probePre, probePost, deltaAfter))
            .toDF("n_base", "n_delta", "n_compacted",
              "probe_pre", "probe_post", "delta_after")
            .coalesce(1).write.mode("overwrite").parquet(logDir)
        }
        compactDone.add(key)
      }
      reRegisterIfMissing(s, dir, "bandsc", Seq("band", "key"))
    }
    (tbl, logDir)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Garbage-collect SUPERSEDED layers of one artifact root (round 19,
    * the ADVICE-r18 leak class): resolve the `_current` pointer, keep
    * that layer (plus pointer + sidecar), delete every other `layer-*`
    * directory; returns how many were removed. Deliberately a
    * maintenance-window call, never automatic: a reader that resolved
    * BEFORE a refresh may still be streaming a superseded layer's
    * files (the q241 time-travel property) — production gates this on
    * a snapshot-retention horizon, exactly like Iceberg's
    * expire_snapshots. */
  private[graft] def gcSupersededLayers(
      s: SparkSession, dir: String, short: String): Int = {
    val tbl = s"graft_sk_${short}_${graft.BuildPaths.dirKey(dir)}_${sourceFingerprint(dir)}"
    val lock = locks.computeIfAbsent(tbl, _ => new Object)
    lock.synchronized {
      val root = artifactRoot(dir, tbl)
      // Never-built artifact (no committed pointer): nothing to collect
      // (ADVICE r19: resolveSnapshot would throw NoSuchFileException).
      if (!new java.io.File(root, "_current").exists()) 0
      else {
        val current = Curation.resolveSnapshot(root)
        val superseded = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("layer-")
            && f.getName != current)
        superseded.foreach(deleteRecursively)
        superseded.length
      }
    }
  }

  /** How many SUPERSEDED layers the automatic refresh-path GC retains
    * (round 20, VERDICT r19 #3) beyond the committed one. 1 = a reader
    * that resolved just before the current refresh keeps its layer; a
    * layer becomes collectable only after a SECOND refresh supersedes
    * it (a generation-count retention lease — the documented
    * mid-stream-reader hazard window is one full refresh cycle, which
    * at 100 TB is hours, not the seconds a scan takes). */
  private[graft] val GcRetainSuperseded = 1

  private def layerSeqOf(name: String): Long =
    try name.stripPrefix("layer-").takeWhile(_ != '-').toLong
    catch { case _: NumberFormatException => 0L }

  /** Wall-clock epoch persisted in the layer name (the 3rd dash field;
    * 0 for pre-round-21 two-field names, which then order by mtime). */
  private def layerEpochOf(name: String): Long = {
    val parts = name.split("-")
    if (parts.length >= 4) try parts(2).toLong
    catch { case _: NumberFormatException => 0L }
    else 0L
  }

  /** The automatic, retention-guarded half of [[gcSupersededLayers]],
    * called by [[refreshTable]] after every pointer flip: keep the
    * committed layer plus the newest [[GcRetainSuperseded]] superseded
    * layers, delete the rest. Recency = (name-persisted epoch, mtime,
    * layer sequence): the wall-clock epoch written into the layer NAME
    * at creation orders across JVM restarts (round 21, ADVICE r20 — the
    * per-JVM sequence resets, so on an mtime tie a pre-restart layer's
    * high seq sorted as newer than a genuinely newer post-restart
    * layer, evicting the newest superseded layer); mtime orders legacy
    * two-field names; the sequence breaks remaining same-JVM ties
    * within the clock's millisecond granularity. Runs under the
    * artifact's per-key lock (the caller holds it). */
  private def gcWithRetention(root: String, current: String): Int = {
    val superseded = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("layer-")
        && f.getName != current)
      .sortBy(f => (-layerEpochOf(f.getName), -f.lastModified, -layerSeqOf(f.getName)))
    val victims = superseded.drop(GcRetainSuperseded)
    victims.foreach(deleteRecursively)
    victims.length
  }

  /** Write-once GRAPH-COMPACTION lifecycle (q250) — the q248 fold
    * applied to the graph family, closing the q246 delta loop: v1 of
    * the `graphc` artifact is the standing OLD-cohort base graph; the
    * q244 maintenance pass's absorbed edges (the exact frame the q246
    * ingest loop accumulates as its delta) fold into a NEW immutable
    * layer committed by the atomic pointer flip. The `_compacted`
    * marker is the lifecycle's commit record — a pointer without it
    * (mid-lifecycle crash) wipes the partial artifact and reruns. */
  private[graft] def ensureCompactedGraph(s: SparkSession, dir: String): String = {
    val dirKey = graft.BuildPaths.dirKey(dir)
    val key = s"graphc_${dirKey}_${sourceFingerprint(dir)}"
    val tbl = s"graft_sk_graphc_${dirKey}_${sourceFingerprint(dir)}"
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      if (!compactDone.contains(key)) {
        val root = artifactRoot(dir, tbl)
        val marker = new java.io.File(root, "_compacted")
        if (marker.exists()) {
          ensureTable(s, dir, "graphc", Seq("u")) {
            throw new IllegalStateException(
              s"graphc pointer missing but compaction marker present at $root")
          }
        } else {
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          deleteRecursively(new java.io.File(root))
          ensureTable(s, dir, "graphc", Seq("u")) { nnGraphBase(s, dir) }
          val newIds = Tables.load(s, dir, "embeddings")
            .filter(col("vec_id") % PipelineRetrieval.NNDESC_NEW_MOD ===
              PipelineRetrieval.NNDESC_NEW_REM)
            .select(col("vec_id"))
          val delta = PipelineRetrieval.graphMaintainEdges(s, dir, newIds)
          refreshTable(s, dir, "graphc", Seq("u")) {
            s.table(tbl).unionByName(delta)
          }
          java.nio.file.Files.write(marker.toPath, "1".getBytes("UTF-8"))
        }
        compactDone.add(key)
      }
      reRegisterIfMissing(s, dir, "graphc", Seq("u"))
    }
    tbl
  }

  /** Write-once TOMBSTONE-FOLD lifecycle (round 20, VERDICT r19 #2) —
    * the q250 compaction ∘ q247 deletion semantics: q247/q253 document
    * that merge-on-read deletion leaves live nodes under-connected
    * (edges to deleted vectors are cut but never refilled — 308
    * degraded nodes on the fixture), silently degrading serve recall
    * under heavy deletion traffic. This lifecycle simulates the
    * standing state a deletion queue leaves behind — v1 of the `grapht`
    * artifact is the converged graph, a tombstone LOG accumulates the
    * right-to-be-forgotten cohort in two request batches — then FOLDS:
    * a NEW immutable layer that physically drops every tombstoned
    * endpoint AND re-runs the capped maintenance kernel on the degraded
    * neighborhoods (PipelineRetrieval.graphTombstoneFold), committed by
    * the atomic pointer flip; the consumed tombstone log is truncated.
    * The stage ledger is recorded to a log parquet whose _SUCCESS is
    * the lifecycle's commit marker (the q248 crash-recovery rule: a
    * grapht pointer without the ledger means a mid-lifecycle death —
    * wipe and rerun). Runs ONCE per (corpus, JVM); a later JVM
    * re-registers the committed folded layer. */
  private[graft] def ensureTombstoneFoldedGraph(
      s: SparkSession, dir: String): (String, String) = {
    val dirKey = graft.BuildPaths.dirKey(dir)
    val fp = sourceFingerprint(dir)
    val key = s"grapht_${dirKey}_$fp"
    val tbl = s"graft_sk_grapht_${dirKey}_$fp"
    val scratchRoot = graft.BuildPaths.scratch(s"sketch_store/$dirKey")
    val logDir = s"$scratchRoot/graft_sk_tombfoldlog_${dirKey}_$fp"
    val tombDir = s"$scratchRoot/graft_sk_tomblog_${dirKey}_$fp"
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      if (!compactDone.contains(key)) {
        if (new java.io.File(logDir, "_SUCCESS").exists()) {
          // A previous JVM ran the lifecycle: re-register the committed
          // (folded) layer; the build thunk must never fire.
          ensureTable(s, dir, "grapht", Seq("u")) {
            throw new IllegalStateException(
              s"grapht pointer missing but fold ledger present at $logDir")
          }
        } else {
          // Crash recovery: the LEDGER is the commit marker. A grapht
          // pointer without it means a previous run died mid-lifecycle
          // — wipe the partial artifact and start clean, or an
          // already-folded layer would silently serve as the "base".
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          deleteRecursively(new java.io.File(artifactRoot(dir, tbl)))
          deleteRecursively(new java.io.File(tombDir))
          // v1 = the standing converged graph (the artifact deletion
          // traffic degrades).
          ensureTable(s, dir, "grapht", Seq("u")) { nnGraph(s, dir) }
          val dM = Analytics.DelMod; val dR = Analytics.DelRem
          val tombs = Tables.load(s, dir, "embeddings")
            .filter(col("vec_id") % dM === dR).select(col("vec_id"))
          // Two appends = two simulated right-to-be-forgotten request
          // batches (% 17 = 5 splits into the % 34 ∈ {5, 22} halves —
          // the q254 convention).
          tombs.filter(col("vec_id") % (2 * dM) === dR)
            .write.mode("append").parquet(tombDir)
          tombs.filter(col("vec_id") % (2 * dM) === dM + dR)
            .write.mode("append").parquet(tombDir)
          // distinct(): deletion requests are idempotent; a replayed
          // append must not change the fold (the q254 log rule).
          val logged = s.read.parquet(tombDir).distinct().persist()
          val nTombs = logged.count()
          val nBase = s.table(tbl).count()
          val parts = PipelineRetrieval.graphTombstoneFold(
            s, dir, s.table(tbl), logged)
          val nLive = parts.liveG.count()
          val nDegraded = parts.degraded.count()
          val nRefill = parts.refilled.count()
          // degraded nodes whose refilled degree is back at the full
          // out-degree G — the "restored" half of the fold's claim
          val nRestored = parts.refilled.groupBy(col("u"))
            .agg(count(lit(1)).as("dg"))
            .filter(col("dg") === PipelineRetrieval.NNDESC_G)
            .count()
          // THE FOLD: live edges for intact nodes ∪ refilled
          // neighborhoods for degraded ones, as a NEW immutable layer +
          // atomic pointer flip (+ the retention-guarded GC the refresh
          // path now runs — VERDICT r19 #3).
          refreshTable(s, dir, "grapht", Seq("u")) { parts.folded }
          // the fold consumed the tombstone log — truncate it
          val tombSchema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType, nullable = false)))
          s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], tombSchema)
            .write.mode("overwrite").parquet(tombDir)
          val tombsAfter = s.read.parquet(tombDir).count()
          import s.implicits._
          Seq((nTombs, nBase, nLive, nDegraded, nRefill, nRestored, tombsAfter))
            .toDF("n_tombs", "n_base", "n_live", "n_degraded",
              "n_refill_edges", "n_degree_restored", "tombs_after")
            .coalesce(1).write.mode("overwrite").parquet(logDir)
        }
        compactDone.add(key)
      }
      reRegisterIfMissing(s, dir, "grapht", Seq("u"))
    }
    (tbl, logDir)
  }

  /** Write-once IVFPQ-DELTA COMPACTION lifecycle (round 20) — the
    * q248/q250 fold applied to the stored IVF+PQ index, closing the
    * q257 delta loop: the at-ingest encoder appends (vec_id, cell, m,
    * code) rows to a delta log forever; without a fold, every serve
    * pays a merge-on-read union. v1 of the `ivfpqc` artifact is the
    * OLD-cohort encode (the index as it stood before the q257 batch);
    * the cohort's codes land in a two-append delta via the SHARED
    * encode kernel; the q255 serve probe (ADC hits vs exact top-K) is
    * recorded over base ∪ delta, the delta FOLDS into a NEW immutable
    * layer by pointer flip (+ the retention-guarded GC), the same probe
    * re-records over the compacted layer alone, and the consumed delta
    * is truncated. The ledger's _SUCCESS is the commit marker (the q248
    * crash-recovery rule). */
  private[graft] def ensureCompactedIvfpq(
      s: SparkSession, dir: String): (String, String) = {
    val dirKey = graft.BuildPaths.dirKey(dir)
    val fp = sourceFingerprint(dir)
    val key = s"ivfpqc_${dirKey}_$fp"
    val tbl = s"graft_sk_ivfpqc_${dirKey}_$fp"
    val scratchRoot = graft.BuildPaths.scratch(s"sketch_store/$dirKey")
    val logDir = s"$scratchRoot/graft_sk_ivfpqfoldlog_${dirKey}_$fp"
    val deltaDir = s"$scratchRoot/graft_sk_ivfpqdelta_${dirKey}_$fp"
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      if (!compactDone.contains(key)) {
        if (new java.io.File(logDir, "_SUCCESS").exists()) {
          ensureTable(s, dir, "ivfpqc", Seq("cell")) {
            throw new IllegalStateException(
              s"ivfpqc pointer missing but fold ledger present at $logDir")
          }
        } else {
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          deleteRecursively(new java.io.File(artifactRoot(dir, tbl)))
          deleteRecursively(new java.io.File(deltaDir))
          val nMod = PipelineRetrieval.NNDESC_NEW_MOD
          val nRem = PipelineRetrieval.NNDESC_NEW_REM
          val emb = Tables.load(s, dir, "embeddings")
          // v1 = the index as it stood BEFORE the incremental cohort
          ensureTable(s, dir, "ivfpqc", Seq("cell")) {
            PipelineRetrieval.ivfpqEncode(s, dir,
              emb.filter(col("vec_id") =!= 0 && col("vec_id") % nMod =!= nRem)
                .select(col("vec_id"), col("embedding")))
          }
          // two appends = two simulated ingest micro-batches of the
          // cohort's codes, through the SHARED encode kernel (% 10 = 3
          // splits into the % 20 ∈ {3, 13} halves — the q257 shape)
          def encodeHalf(rem: Int): Unit =
            PipelineRetrieval.ivfpqEncode(s, dir,
                emb.filter(col("vec_id") % (2 * nMod) === rem)
                  .select(col("vec_id"), col("embedding")))
              .write.mode("append").parquet(deltaDir)
          encodeHalf(nRem)
          encodeHalf(nMod + nRem)
          // distinct(): at-least-once replay idempotency (the q257 rule)
          val delta = s.read.parquet(deltaDir).distinct().persist()
          val nBase = s.table(tbl).count()
          val nDelta = delta.count()
          // merge-on-read probe BEFORE the fold: base ∪ delta
          val probePre = PipelineRetrieval.ivfpqProbeHits(s, dir,
            s.table(tbl).unionByName(delta))
          // THE FOLD: one union + one bucketed write + the pointer flip
          refreshTable(s, dir, "ivfpqc", Seq("cell")) {
            s.table(tbl).unionByName(delta)
          }
          val probePost = PipelineRetrieval.ivfpqProbeHits(s, dir, s.table(tbl))
          val nComp = s.table(tbl).count()
          // the fold consumed the delta — truncate it
          s.table(tbl).limit(0).write.mode("overwrite").parquet(deltaDir)
          val deltaAfter = s.read.parquet(deltaDir).count()
          import s.implicits._
          Seq((nBase, nDelta, nComp, probePre, probePost, deltaAfter))
            .toDF("n_base", "n_delta", "n_compacted",
              "probe_pre", "probe_post", "delta_after")
            .coalesce(1).write.mode("overwrite").parquet(logDir)
        }
        compactDone.add(key)
      }
      reRegisterIfMissing(s, dir, "ivfpqc", Seq("cell"))
    }
    (tbl, logDir)
  }

  /** Empty a consumed delta in place (TRUNCATE is disallowed on
    * external tables): drop the catalog entry and recreate the same
    * bucketed layout, empty, at the same path. */
  private[graft] def truncateBandsDelta(
      s: SparkSession, dir: String, tbl: String): Unit = {
    val dirKey = graft.BuildPaths.dirKey(dir)
    val path = s"${graft.BuildPaths.scratch(s"sketch_store/$dirKey")}/$tbl"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], BandDeltaSchema)
      .write.mode("overwrite")
      .bucketBy(BucketN, "band", "key").sortBy("band", "key")
      .option("path", path)
      .format("parquet").saveAsTable(tbl)
  }

  /** Append one micro-batch of band rows (the [[bandRowsOf]] output) to a
    * delta created by [[resetBandsDelta]] — same bucketed+sorted layout
    * as the base artifact, so probes against base ∪ delta stay
    * co-located joins on (band, key). */
  def appendBandsDelta(batchBands: DataFrame, tbl: String): Unit =
    batchBands
      .select(col("doc_id").cast(org.apache.spark.sql.types.LongType).as("doc_id"),
        col("lang").cast(org.apache.spark.sql.types.StringType).as("lang"),
        col("band").cast(org.apache.spark.sql.types.IntegerType).as("band"),
        col("key"))
      .repartition(BucketN, col("band"), col("key"))
      .write.mode("append")
      .bucketBy(BucketN, "band", "key").sortBy("band", "key")
      .format("parquet").saveAsTable(tbl)

  /** SimHash pigeonhole chunks `(doc_id, sh, ck, cv)` — q44's 4x8-bit
    * chunking of the 32-bit signature, bucketed on the chunk key. */
  def simChunks(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "simchunks", Seq("ck", "cv")) {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), expr("graft_simhash32(text)").as("sh"))
        .select(col("doc_id"), col("sh"),
          expr((0 until SIMCHUNKS).map(j =>
            s"$j, shiftright(sh, ${CHUNKBITS * j}) % ${1 << CHUNKBITS}")
            .mkString(s"stack($SIMCHUNKS, ", ", ", ") as (ck, cv)")))
    }
    s.table(tbl)
  }

  /** Distinct 60-bit word-3-gram hashes `(doc_id, g)`, bucketed on the
    * gram — q45's inverted-index base and q189's exact-Jaccard truth. */
  def shingles(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "shingles", Seq("g")) {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(expr("graft_shingle_hashes(text)")).as("g"))
        .distinct()
    }
    s.table(tbl)
  }

  /** Sign-LSH bucket rows `(vec_id, label, t, bk)` — the q46 grid (4
    * tables x 8 planes), bucketed on the (table, bucket) join key. */
  def lshBuckets(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "lshbkt", Seq("t", "bk")) {
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(expr("graft_lsh_buckets(embedding)")).as(Seq("t", "bk")))
    }
    s.table(tbl)
  }

  /** K-means cell membership `(cluster_id, vec_id)` at the oracle-pinned
    * K=8 — the q93/q100 two-round Lloyd assignment, bucketed on the
    * cell id (the key every within-cell pair join uses). */
  def kMembers(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "kmembers", Seq("cluster_id")) {
      val ev = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      Analytics.Kmeans.twoRoundAssign(ev)
        .select(col("cluster_id"), col("vec_id"))
    }
    s.table(tbl)
  }

  // ---- Candidate-PAIR artifacts ------------------------------------
  // The second tier of the standing dedup index: each family's
  // collision pairs, materialized once from the stored sketch frames
  // above. In a production crawl these are maintained incrementally
  // (q110's batch-vs-index probe appends to exactly this structure);
  // here the cross-method sweep (q189) reads them so method SELECTION
  // grades the standing index instead of re-running all five candidate
  // self-joins per sweep. The per-family GENERATOR queries
  // (q41/q44/q45/q54/q100) still compute their joins inline from the
  // frame artifacts — their bench numbers price the real join — and
  // q189's DuckDB oracle recomputes every family from raw text/
  // embeddings, so a stale or drifted pair artifact is a hash FAIL,
  // not a silent win. StorageLayoutSpec additionally pins pair-store
  // rows == generator output rows at build SF.

  /** MinHash banded collision pairs `(doc_a, doc_b)` — q41's output set. */
  def mhPairs(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "mhpairs", Seq("doc_a", "doc_b")) {
      val b = bands(s, dir).select(col("doc_id"), col("band"), col("key"))
      b.as("a").join(b.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    }
    s.table(tbl)
  }

  /** SimHash pigeonhole pairs, hamming <= 3 VERIFIED — q44's pair set. */
  def simPairs(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "simpairs", Seq("doc_a", "doc_b")) {
      val c = simChunks(s, dir)
      c.as("a").join(c.as("b"),
          col("a.ck") === col("b.ck") && col("a.cv") === col("b.cv")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("bit_count(a.sh ^ b.sh)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= graft.functions.Sketches.HAMMING_MAX)
        .select(col("doc_a"), col("doc_b"))
    }
    s.table(tbl)
  }

  /** Rare-shingle inverted-index pairs (df <= 4 postings, >= 3 shared
    * grams) — q45's candidate set. */
  def rarePairs(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "rarepairs", Seq("doc_a", "doc_b")) {
      val sh = shingles(s, dir)
      val rare = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 4).select(col("g"))
      val rs = sh.join(rare, Seq("g"))
      rs.as("a").join(rs.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter") >= 3)
        .select(col("doc_a"), col("doc_b"))
    }
    s.table(tbl)
  }

  /** Sign-LSH bucket collision pairs `(va, vb)` — q54's candidate set. */
  def lshPairs(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "lshpairs", Seq("va", "vb")) {
      val b = lshBuckets(s, dir).select(col("vec_id"), col("t"), col("bk"))
      b.as("a").join(b.as("b"),
          col("a.t") === col("b.t") && col("a.bk") === col("b.bk")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
        .distinct()
    }
    s.table(tbl)
  }

  /** Within-cell pairs `(va, vb)` from the stored K=8 assignment —
    * q100's candidate set. */
  def semPairs(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "sempairs", Seq("va", "vb")) {
      val m = kMembers(s, dir)
      m.as("a").join(m.as("b"),
          col("a.cluster_id") === col("b.cluster_id")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
    }
    s.table(tbl)
  }

  /** Converged min-label duplicate-cluster assignment `(doc_id,
    * cluster_id)` over the stored q41 pair artifact — the q76 family's
    * shared frame (q76/q125/q215/q233 all consume it; VERDICT r17 #8).
    * The iterative propagation runs ONCE per corpus at artifact build;
    * consumers read a bucketed table keyed on doc_id (their join key
    * back to documents). The q76/q125 DuckDB oracles still recompute
    * reachability from raw text via a recursive CTE, so a stale or
    * drifted assignment is a hash FAIL. */
  def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "dupclusters", Seq("doc_id")) {
      Analytics.dupClusterPropagate(s, mhPairs(s, dir))
    }
    s.table(tbl)
  }

  /** The converged NN-Descent K-NN graph `(u, w, cos_r)` (round 18) —
    * the graph-ANN family's standing index, built ONCE per corpus by
    * the q239 descent (seeded from [[lshPairs]], G=16, 2 rounds) and
    * read by both its evals (q239 node-0 recall, q243 sampled
    * whole-graph recall). Bucketed on the query-node key u. The q239/
    * q243 oracles recompute the full descent from raw embeddings, so a
    * stale graph is a hash FAIL. */
  def nnGraph(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "nngraph", Seq("u")) {
      PipelineRetrieval.nnDescentGraph(s, dir)
    }
    s.table(tbl)
  }

  /** The OLD-cohort NN-Descent graph (round 18, q244) — the standing
    * index as it stood BEFORE the incremental batch arrived (seed pairs
    * restricted to vectors outside the q244 new cohort; the 2-hop
    * expansion is cohort-closed). The q244 maintenance pass absorbs the
    * new batch against THIS artifact without rebuilding it. */
  def nnGraphBase(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "nngraphb", Seq("u")) {
      PipelineRetrieval.nnDescentGraph(s, dir, oldOnly = true)
    }
    s.table(tbl)
  }

  /** The stored IVF+PQ index `(vec_id, cell, m, code)` (round 20,
    * VERDICT r19 #1) — residual-encoded PQ codes (vector minus its cell
    * centroid, the FAISS IVFPQ construction) routed by q55's coarse
    * cells, bucketed on the CELL id: a serve probe reads only its
    * NPROBE cells' buckets, and at 100 TB the read is cell-pruned with
    * zero exchange on the stored side. Built ONCE per corpus by the
    * shared encode kernel (PipelineRetrieval.ivfpqEncodeAll — the same
    * kernel the at-ingest twin runs per micro-batch); q255's oracle
    * recomputes every code from raw embeddings, so a stale or drifted
    * index is a hash FAIL. */
  def ivfpqCodes(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "ivfpq", Seq("cell")) {
      PipelineRetrieval.ivfpqEncodeAll(s, dir)
    }
    s.table(tbl)
  }

  /** Per-doc sorted distinct-gram SET `(doc_id, gs, nsh)` — the grading
    * side of exact Jaccard as one array per doc (set intersection goes
    * scan-local per pair instead of pair x gram shuffles). */
  def docGramSets(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTable(s, dir, "docsets", Seq("doc_id")) {
      shingles(s, dir).groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("g"))).as("gs"),
          count(lit(1)).as("nsh"))
    }
    s.table(tbl)
  }

  /** The stored table names whose paths StorageLayoutSpec pins in
    * consumer plans (artifact identity, not just row equality). */
  private[graft] def tableNames(dir: String): Map[String, String] = {
    val k = graft.BuildPaths.dirKey(dir)
    val fp = sourceFingerprint(dir)
    Seq("bands", "simchunks", "shingles", "lshbkt", "kmembers", "mhpairs",
      "simpairs", "rarepairs", "lshpairs", "sempairs", "docsets", "dupclusters",
      "nngraph", "nngraphb", "ivfpq")
      .map(short => short -> s"graft_sk_${short}_${k}_$fp").toMap
  }
}
