package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables

/** Near-duplicate detection family (SURVEY §7.5 dedup): MinHash-LSH,
  * SimHash, n-gram Jaccard, embedding LSH, incremental/band-index,
  * substring/line/frame dedup, the cross-method sweep and the LSH
  * planner. Split out of Pipeline.scala (round 18) — pure code motion;
  * every oracle and kernel is unchanged. Shared sketch constants come
  * from graft.functions.Sketches (the no-drift rule). */
object PipelineDedup {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val TABLES = graft.functions.Sketches.TABLES
  private val PLANES = graft.functions.Sketches.PLANES
  private val DIM = graft.functions.Sketches.DIM

  // ---- shared MinHash family: k=12 permutations over a 60-bit md5 base
  // hash reduced mod the Mersenne prime 2^31-1; 6 bands x 2 rows.
  // (a_i * h + b_i) stays < 2^46 — no int64 overflow in either engine.
  // Constants live in graft.functions.Sketches (the native kernels) and
  // are referenced here by the oracle generators, so the Spark side and
  // the DuckDB side cannot drift. (Declared BEFORE `defs` — val-init
  // order: a later declaration would interpolate as 0 into the oracles.)
  private val P = graft.functions.Sketches.P

  private val K = graft.functions.Sketches.K

  private val hashA: Array[Long] = graft.functions.Sketches.hashA

  private val hashB: Array[Long] = graft.functions.Sketches.hashB

  private val bands: Seq[(Int, Int)] = (0 until K / 2).map(j => (2 * j, 2 * j + 1))

  // ---- q44 constants: 32-bit simhash, 4 chunks of 8 bits (pigeonhole:
  // hamming<=3 pairs share a chunk). 16 bits is too coarse for this
  // corpus — 28k candidate pairs at sf0.01 vs 1.3k at 32 bits.
  private val SIMBITS = graft.functions.Sketches.SIMBITS

  private val SIMCHUNKS = graft.functions.Sketches.SIMCHUNKS

  private val CHUNKBITS = SIMBITS / SIMCHUNKS

  private val HAMMING_MAX = graft.functions.Sketches.HAMMING_MAX

  // q54 threshold: this corpus' max pairwise cosine is ~0.40 (random
  // vectors), so 0.3 surfaces the most-similar tail without emptying the
  // result; real near-dup corpora would use ~0.9.
  private val NEARDUP_COS = 0.3

  // q180 span width: word-8-grams, the smallest span the Lee-et-al
  // suffix-array dedup family treats as "verbatim duplication" worth
  // excising (50 BPE tokens in the paper; 8 words at this fixture's
  // ~55-word docs keeps the same spirit at fixture scale). final val
  // literal = compile-time constant, immune to object-init order.
  private final val SpanK = 8

  // q189 exact-Jaccard match threshold (integer micros): tau = 0.5.
  private final val JaccTauMicro = 500000
  val defs: Seq[QueryDef] = Seq(

    // ---- near-dup candidates via MinHash-LSH: scan-local signature
    // (graft_minhash_sig, one pass per document — no token explode, no
    // shuffle before the band join) -> band buckets -> bucket join. The
    // only joins are on band keys; candidate count is output, never
    // all-pairs. ----
    QueryDef("q41_near_dup", minhashOracle) { (s, dir) =>
      // Round 17 (VERDICT r16 #1): the band frame is a write-once STORED
      // bucketed artifact (SketchStore.bands — the ensureBpeModel
      // pattern), shared verbatim with q110's incremental probe and
      // q189's method sweep. Both self-join sides read it IN PLACE — no
      // per-query corpus scan, no minhash recompute, and at scale the
      // (band, key) bucketing makes the self-join a co-located SMJ.
      //
      // Cache-lifetime policy (applies to EVERY .persist() in the query
      // builders, here and in Analytics.scala): caches live for the
      // session ON PURPOSE. The query functions return un-materialized
      // DataFrames, so unpersisting inside the builder would evict
      // before the caller's action runs; and bench's min-of-3 timing
      // plus spec re-runs rely on warm reuse. CacheManager dedupes by
      // canonicalized plan, so re-building the same query adds nothing;
      // distinct (query, dir) combinations add one small derived frame
      // each — bounded by the handful of dirs a session reads. Callers
      // that need the memory back call spark.catalog.clearCache().
      val bandRows = SketchStore.bands(s, dir).select(col("doc_id"), col("band"), col("key"))
      val a = bandRows.as("a"); val b = bandRows.as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- SimHash near-dup: 32-bit signatures computed scan-local in one
    // pass (graft_simhash32 — replaces explode + a 33-aggregate shuffled
    // groupBy); candidates via the pigeonhole trick (4 chunks of 8 bits —
    // hamming<=3 pairs must share a chunk), then exact hamming filter.
    // Equi-join on chunk buckets, never all-pairs. ----
    QueryDef("q44_simhash", simhashOracle) { (s, dir) =>
      // Stored chunk frame (round 17, see q41): both self-join sides
      // read the bucketed artifact in place.
      val chunks = SketchStore.simChunks(s, dir)
      val a = chunks.as("a"); val b = chunks.as("b")
      a.join(b, col("a.ck") === col("b.ck") && col("a.cv") === col("b.cv")
          && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("bit_count(a.sh ^ b.sh)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= HAMMING_MAX)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- n-gram Jaccard: exact similarity over rare shingles (document
    // frequency <= 4 — stop-shingle removal bounds the inverted-index
    // join to sum_s C(df_s,2), 5.4k pairs at sf0.1 vs 1.27M unfiltered).
    // Shingles are 60-bit hashes from the scan-local kernel — the
    // inverted index shuffles and joins 8-byte longs, not ~30-char
    // strings; both engines hash identically so Jaccard counts agree
    // (collision odds at 60 bits: ~N²/2^61, negligible). ----
    QueryDef("q45_ngram_jaccard", jaccardOracle) { (s, dir) =>
      // Stored distinct-shingle frame (round 17, see q41) — the same
      // artifact q189's exact-Jaccard truth reads.
      val sh = SketchStore.shingles(s, dir).select(col("doc_id"), col("g").as("s"))
      val rare = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 4).select(col("s"))
      // Per-doc rare-shingle count rides along as a window column, and the
      // pair aggregation groups by it (nsh is functionally dependent on
      // doc_id) — no separate `sizes` frame. The inverted index is
      // persisted: it is the small derived structure (rare shingles only,
      // 8-byte keys), and without the cache Spark recomputes the full
      // corpus scan + shingle explode on BOTH sides of the self-join
      // (alias ids differ, so no exchange reuse). PlanAuditSpec pins this:
      // both join sides must be InMemoryTableScans.
      val wN = Window.partitionBy(col("doc_id"))
      val rs = sh.join(rare, "s").withColumn("nsh", count(lit(1)).over(wN))
        .persist()
      val a = rs.as("a"); val b = rs.as("b")
      a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.nsh").as("na"), col("b.nsh").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter") >= 3)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"),
          round(col("inter").cast(DoubleType) /
            (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- embedding-cosine near-dup: PAIRWISE near-duplicate detection
    // over vectors — candidates restricted to pairs sharing an LSH bucket
    // in any table (the q46 grid), then exact cosine >= threshold via the
    // native expression. The pairwise complement of q46's single-query
    // search; bucket equi-join keeps candidates ~ N^2/2^bits per table,
    // never all-pairs. ----
    QueryDef("q54_embedding_near_dup", embeddingNearDupOracle) { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      // Stored LSH bucket frame (round 17, see q41): both self-join
      // sides read the bucketed artifact in place.
      val buckets = SketchStore.lshBuckets(s, dir).select(col("vec_id"), col("t"), col("bk"))
      val a = buckets.as("a"); val b = buckets.as("b")
      val cand = a.join(b, col("a.t") === col("b.t") && col("a.bk") === col("b.bk")
          && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
        .distinct()
      val ea = emb.select(col("vec_id").as("va"), col("embedding").as("emb_a"))
      val eb = emb.select(col("vec_id").as("vb"), col("embedding").as("emb_b"))
      cand.join(ea, "va").join(eb, "vb")
        .select(col("va"), col("vb"),
          round(expr("cosine_similarity(emb_a, emb_b)"), 6).as("cos_r"))
        .filter(col("cos_r") >= NEARDUP_COS)
        .orderBy(col("va"), col("vb"))
    },

    // ---- behavioral similarity via GROUP-level MinHash: each user's
    // event set (event_type + floored value buckets) is aggregated into a
    // K-permutation signature by the custom TypedImperativeAggregate
    // graft_minhash_agg — ONE long[K] buffer per group with map-side
    // partial aggregation, so the shuffle carries one signature per
    // (partition, user), never the items. Band join then surfaces
    // users with similar behavior; never all-pairs. ----
    QueryDef("q59_user_minhash", userMinhashOracle) { (s, dir) =>
      val items = T(s, dir, "events")
        .select(col("user_id"),
          (conv(substring(md5(concat(col("event_type"), lit("_"),
            floor(col("value")).cast(LongType))), 1, 15), 16, 10)
            .cast(LongType) % P).as("hp"))
      val sig = items.groupBy(col("user_id"))
        .agg(expr("graft_minhash_agg(hp)").as("sig"))
      val bandRows = sig.select(col("user_id"),
        expr(bands.zipWithIndex.map { case ((x, y), j) =>
          s"$j, concat(sig[$x], '_', sig[$y])"
        }.mkString(s"stack(${bands.size}, ", ", ", ") as (band, key)")))
      val a = bandRows.as("a"); val b = bandRows.as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.user_id") < col("b.user_id"))
        .select(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"))
        .distinct()
        .orderBy(col("user_a"), col("user_b"))
    },

    // ---- line-level exact dedup with document reconstruction (the
    // C4/RefinedWeb line-dedup op — doc-level q40 keeps or drops whole
    // documents; this deduplicates WITHIN them): segment each document
    // into fixed 5-word "lines" (the boundary rule is a parameter — real
    // corpora split on newlines), keep each line's corpus-wide FIRST
    // occurrence (ordered by doc_id, seg_idx: deterministic, not
    // dropDuplicates), and rebuild every document from its surviving
    // lines in order. 100 TB shape: two keyed shuffles over segment
    // data — the 60-bit segment hash (the dedup) and doc_id (the
    // reassembly) — plus a slim (doc_id, n_segs) join that re-attaches
    // fully-duplicate documents (they survive with n_kept=0, md5('')).
    // The rebuilt text is proven, not assumed: its md5 is part of the
    // hash-checked output. ----
    QueryDef("q98_line_dedup", lineDedupOracle) { (s, dir) =>
      val ws = split(lower(col("text")), " ")
      // Two consumers (segment explode + the n_segs re-attach join):
      // persist, one corpus scan + tokenize — not two (q85/q88/q99 rule).
      // Null-text guard matches q96/q99 (and the oracle): without it,
      // size(NULL ws) diverges from DuckDB's zero-segment expansion.
      val base = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), ws.as("ws"))
        .withColumn("n_segs", ceil(size(col("ws")) / lit(Pipeline.LineWords.toDouble)).cast(LongType))
        .persist()
      val segs = base
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0L), col("n_segs") - 1)).as("seg_idx"))
        .select(col("doc_id"), col("seg_idx"),
          array_join(
            slice(col("ws"), (col("seg_idx") * Pipeline.LineWords + 1).cast(IntegerType), lit(Pipeline.LineWords)),
            " ").as("seg"))
        .withColumn("h", conv(substring(md5(col("seg")), 1, 15), 16, 10).cast(LongType))
      val wFirst = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("seg_idx"))
      val kept = segs.withColumn("rn", row_number().over(wFirst)).filter(col("rn") === 1)
      val rebuilt = kept.groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_kept"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
              x => x.getField("seg")),
            " ")).as("rebuilt_md5"))
      base.select(col("doc_id"), col("n_segs"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("rebuilt_md5"), md5(lit(""))).as("rebuilt_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- incremental near-dup triage (the append-only crawl-batch
    // shape — q78's incremental idea lifted from exact hashes to
    // MinHash-LSH): a new batch (doc_id % 10 = 0) checks its band keys
    // against the EXISTING corpus's band index and against itself; the
    // corpus is never re-clustered and never self-joins. At 100 TB the
    // corpus band index is a stored bucketed table maintained across
    // crawls — only the (small) batch is new work per ingest, so the
    // join cost tracks the batch, not the corpus. Output: per-language
    // batch triage (dup-vs-corpus / dup-within-batch / clean). ----
    QueryDef("q110_incremental_near_dup", incrementalNearDupOracle) { (s, dir) =>
      // Round 17: the standing band index this query's design comment
      // promised is now REAL — the stored bucketed artifact
      // (SketchStore.bands) that q41/q189 also read. The corpus/batch
      // split filters the stored table; each probe is a keyed join
      // against the bucketed layout.
      val bandRows = SketchStore.bands(s, dir)
      val corpus = bandRows.filter(col("doc_id") % 10 =!= 0)
      val batch = bandRows.filter(col("doc_id") % 10 === 0)
      val vsCorpus = batch.as("n").join(corpus.as("o"),
          col("n.band") === col("o.band") && col("n.key") === col("o.key"))
        .select(col("n.doc_id").as("doc_id"), col("n.lang").as("lang")).distinct()
      // within-batch: flagged iff an EARLIER batch doc shares a bucket
      // (the kept-first rule — the first occurrence stays clean)
      val withinBatch = batch.as("a").join(batch.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key")
            && col("a.doc_id") > col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("a.lang").as("lang")).distinct()
      batch.select(col("doc_id"), col("lang")).distinct()
        .join(vsCorpus.withColumn("vs_corpus", lit(1)), Seq("doc_id", "lang"), "left")
        .join(withinBatch.withColumn("in_batch", lit(1)), Seq("doc_id", "lang"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_batch"),
          sum(coalesce(col("vs_corpus"), lit(0))).as("n_dup_vs_corpus"),
          sum(coalesce(col("in_batch"), lit(0))).as("n_dup_in_batch"),
          sum(when(coalesce(col("vs_corpus"), lit(0)) === 0
            && coalesce(col("in_batch"), lit(0)) === 0, 1).otherwise(0)).as("n_clean"))
        .orderBy(col("lang"))
    },

    // ---- q172 (round 14): LSH band-configuration sweep — the tuning
    // harness behind every MinHash dedup deployment: bands×rows trades
    // recall for candidate volume (P[candidate] = 1-(1-s^r)^b), and at
    // 100 TB choosing wrong means either missed dupes or a quadratic
    // candidate explosion. From the SAME 12-permutation signature
    // (q41's kernel), three layouts — 6×2 (q41's), 4×3, 3×4 — each
    // generate candidates by banded self-join; every pool pair's
    // signature agreement (matching components / 12, the unbiased
    // Jaccard estimator) grades them: precision = matched/candidates,
    // recall vs the UNION candidate pool's matches (the standard
    // at-scale proxy — exact ground truth would be the all-pairs join
    // LSH exists to avoid, and the oracle replays the same pool
    // definition). 100 TB shape: signatures scan-local; every
    // candidate join is banded (never all-pairs); agreement joins are
    // doc-keyed; the three 1-row totals ride audited broadcasts;
    // output = 3 rows. ----
    QueryDef("q172_lsh_band_sweep", lshBandSweepOracle) { (s, dir) =>
      val sig = T(s, dir, "documents")
        .select(col("doc_id"), expr("graft_minhash_sig(text)").as("sig"))
        .filter(col("sig").isNotNull)
        .persist() // feeds 3 band derivations + 2 agreement probes
      def candidates(name: String, layout: Seq[Seq[Int]]): DataFrame = {
        val br = sig.select(col("doc_id"),
          expr(layout.zipWithIndex.map { case (ids, j) =>
            s"$j, concat(${ids.map(i => s"sig[$i]").mkString(", '_', ")})"
          }.mkString(s"stack(${layout.size}, ", ", ", ") as (band, key)")))
        val a = br.as("a"); val b = br.as("b")
        a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key")
            && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
          .withColumn("config", lit(name))
      }
      val pairs = sweepLayouts.map { case (n, l) => candidates(n, l) }
        .reduce(_ unionByName _).persist()
      val pool = pairs.select(col("doc_a"), col("doc_b")).distinct()
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")), Seq("doc_a"))
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), v -> v))").as("agree"))
        .withColumn("is_match", (col("agree") >= 6).cast(IntegerType))
        .persist()
      val truthTotal = pool.agg(sum(col("is_match")).cast(LongType).as("pool_matches"))
      pairs.join(pool, Seq("doc_a", "doc_b"))
        .groupBy(col("config"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(col("is_match")).cast(LongType).as("n_matched"))
        .crossJoin(broadcast(truthTotal))
        .select(col("config"), col("n_candidates"), col("n_matched"),
          col("pool_matches"),
          expr("(n_matched * 1000000) DIV n_candidates").as("precision_micro"),
          // Zero-guarded (r15 ADVICE): a corpus where no pooled pair
          // clears the Jaccard threshold has pool_matches = 0 — Spark
          // DIV yields NULL, DuckDB // errors; both now agree on 0
          // (q183's collision_micro convention).
          when(col("pool_matches") > 0,
            expr("(n_matched * 1000000) DIV pool_matches")).otherwise(lit(0L))
            .as("recall_micro"))
        .orderBy(col("config"))
    },

    // ---- q180 (round 15): cross-document EXACT SUBSTRING dedup (Lee
    // et al. 2021, "Deduplicating Training Data Makes Language Models
    // Better") — the span-level sibling of q40 (doc-level) and q98
    // (fixed-segment line-level): any word-8-gram occurring >= 2 times
    // in the corpus (across docs OR repeated within one) keeps only
    // its canonical occurrence (min (doc_id, pos) — lexicographic
    // struct min, identical both engines); every OTHER occurrence's
    // 8-token span is excised and the doc rebuilt from the surviving
    // positions with q164's accounting + ordered-reassembly md5, so
    // any off-by-one in the span arithmetic hash-fails. Unlike q141
    // (segment-frequency boilerplate, alignment-sensitive) the match
    // is position-free: a quoted passage is cut wherever it reappears,
    // at any offset. 100 TB shape: the gram explode is scan-local; the
    // ONE corpus-sized shuffle keys on the 60-bit gram hash (the
    // irreducible Lee-et-al shuffle — the dup groupBy and the
    // occurrence join SHARE it via the persisted occ frame); span
    // coverage distinct and reassembly are doc-keyed; nothing is ever
    // all-pairs. ----
    QueryDef("q180_substring_dedup", substringDedupOracle) { (s, dir) =>
      // (Round 22 note: a Tables.loadSpread here was A/B-measured
      // NEGATIVE (1.71 -> 1.85 s at sf0.1) and reverted — the spread's
      // full-text shuffle costs more than the serial cache fill it
      // parallelizes on this gram-hash path.)
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"), split(lower(col("text")), " ").as("ws"))
        .persist() // feeds gram explode + word spine + output spine
      // Round 21 (guide §4.1): the word-8-gram hashes come from the
      // one-pass graft_gram_hashes kernel (bit-compatible with the
      // sequence-explode + slice + array_join + md5 tree it replaces —
      // SketchParitySpec pins it), shedding the per-position slice/join
      // string allocations and the hex round-trip. Null for docs under
      // SpanK words — exactly the rows the old size(ws) >= SpanK filter
      // kept out (DuckDB's generate_series(1, n-7) is empty at n < 8).
      val occ = d
        .select(col("doc_id"),
          posexplode(expr(s"graft_gram_hashes(text, $SpanK)")).as(Seq("p0", "h")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
        .persist() // feeds the dup groupBy AND the join back (q85 rule)
      val dup = occ.groupBy(col("h"))
        .agg(count(lit(1)).as("c"),
          min(struct(col("doc_id"), col("pos"))).as("keep"))
        .filter(col("c") >= 2)
        .select(col("h"), col("keep.doc_id").as("kd"), col("keep.pos").as("kp"))
      val covered = occ.join(dup, Seq("h"))
        .filter(!(col("doc_id") === col("kd") && col("pos") === col("kp")))
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (SpanK - 1))).as("pos"))
        .distinct()
      val words = d
        .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "w")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("w"))
      val reb = words.join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("w")))),
              x => x.getField("w")),
            " ")).as("rebuilt_md5"))
      d.select(col("doc_id"), size(col("ws")).cast(LongType).as("n_words"))
        .join(reb, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
          coalesce(col("rebuilt_md5"), md5(lit(""))).as("rebuilt_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- q189 (round 15; round 16 adds families 4-5): cross-METHOD
    // near-dup selection harness — q172 tunes one family's (bands ×
    // rows) dial; a pipeline first has to pick the FAMILY. FIVE
    // families, every dedup family the repo owns: MinHash-LSH (q41's
    // 6×2 bands), SimHash pigeonhole (q44's 4×8-bit chunks, hamming
    // ≤ 3 verified), rare-shingle Jaccard (q45's df ≤ 4 inverted
    // index, ≥ 3 shared) over documents — graded by EXACT word-3-gram
    // Jaccard (integer micros, ≥ 0.5) — plus q54's sign-LSH buckets
    // and q100's semantic (k-means cell-scoped) candidates over
    // embeddings — graded by exact cosine at the shared q100 τ, with
    // the q74 round-before-compare rule. Each modality's recall is vs
    // ITS pooled candidates (the q172 convention: exact corpus-wide
    // truth would be the all-pairs join these methods exist to
    // avoid). The output is the method-selection table: candidates /
    // matched / precision / recall per family on identical data.
    // 100 TB shape: every candidate generator is a banded/bucketed/
    // cell-scoped equi self-join over a persisted sketch frame (never
    // all-pairs); grading joins each pool (pairs, not corpus) against
    // persisted gram sets / embeddings; the two 1-row pool totals
    // ride audited broadcasts. ----
    QueryDef("q189_dedup_method_sweep", dedupMethodSweepOracle) { (s, dir) =>
      // Round 17 (VERDICT r16 #1): the sweep is now the INCREMENTAL
      // consumer of the standing dedup index — it reads the write-once
      // SketchStore PAIR artifacts (each materialized once from the
      // same stored sketch frames the per-family generators join) and
      // pays only for grading: pool joins against the stored per-doc
      // gram sets / the broadcast-sized embeddings, scan-local set /
      // cosine arithmetic per pair, dictionary-sized rollups. The
      // generators (q41/q44/q45/q54/q100) still price their candidate
      // joins inline; and this query's oracle recomputes ALL five
      // families from raw text/embeddings in DuckDB, so a stale or
      // drifted pair artifact is a hash FAIL, never a silent win.
      val mhPairs = SketchStore.mhPairs(s, dir).withColumn("config", lit("minhash_6x2"))
      val shPairs = SketchStore.simPairs(s, dir).withColumn("config", lit("simhash_h3"))
      val ngPairs = SketchStore.rarePairs(s, dir).withColumn("config", lit("ngram_rare"))
      val pairs = mhPairs.unionByName(shPairs).unionByName(ngPairs).persist()
      // Exact-Jaccard grade over the pooled pairs only: each doc's
      // distinct-shingle SET rides as one sorted array (the stored
      // docsets artifact), the pool joins twice on doc id, and |A∩B|
      // is one scan-local array_intersect per pair — no pair x gram
      // shuffle anywhere in the grading.
      val docSets = SketchStore.docGramSets(s, dir)
      val pool = pairs.select(col("doc_a"), col("doc_b")).distinct()
      val graded = pool
        .join(docSets.select(col("doc_id").as("doc_a"),
          col("gs").as("gsa"), col("nsh").as("na")), Seq("doc_a"))
        .join(docSets.select(col("doc_id").as("doc_b"),
          col("gs").as("gsb"), col("nsh").as("nb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("gsa"), col("gsb"))).cast(LongType).as("i"),
          col("na"), col("nb"))
        .withColumn("is_match",
          (expr("(i * 1000000) DIV (na + nb - i)") >= JaccTauMicro).cast(IntegerType))
        .persist()
      val truthTotal = graded.agg(sum(col("is_match")).cast(LongType).as("pool_matches"))
      val textStats = pairs
        .join(graded.select(col("doc_a"), col("doc_b"), col("is_match")),
          Seq("doc_a", "doc_b"))
        .groupBy(col("config"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(col("is_match")).cast(LongType).as("n_matched"))
        .crossJoin(broadcast(truthTotal))
      // Families 4-5 (round 16, r15 VERDICT #4): the EMBEDDING-space
      // dedup methods — q54's sign-LSH buckets and q100's semantic
      // (k-means cell-scoped) candidates — graded by exact cosine at
      // the q100 τ with the q74 rule (round(cos, 6) before compare, so
      // both engines decide identically). Their pool/truth is cosine
      // over the POOLED embedding pairs only — same affordability
      // argument as the text families' pooled Jaccard.
      val emb = T(s, dir, "embeddings")
      val lshPairs = SketchStore.lshPairs(s, dir).withColumn("config", lit("sign_lsh"))
      val semPairs = SketchStore.semPairs(s, dir).withColumn("config", lit("semantic_cell"))
      val epairs = lshPairs.unionByName(semPairs).persist()
      val epool = epairs.select(col("va"), col("vb")).distinct()
      val egraded = epool
        .join(emb.select(col("vec_id").as("va"), col("embedding").as("emb_a")), "va")
        .join(emb.select(col("vec_id").as("vb"), col("embedding").as("emb_b")), "vb")
        .select(col("va"), col("vb"),
          (round(expr("cosine_similarity(emb_a, emb_b)"), 6) >= KmeansShared.SemCos)
            .cast(IntegerType).as("is_match"))
        .persist() // feeds the 1-row truth total AND the per-config stats
      val etot = egraded.agg(sum(col("is_match")).cast(LongType).as("pool_matches"))
      // merge hint: the pair-keyed stats join is pool × pool — both
      // sides grow with the corpus, so at scale it is a co-partitioned
      // sort-merge join; pinning it keeps the 1x/10x plan shapes
      // identical for the scale-stress comparison (the q158 rule).
      val embStats = epairs.join(egraded.hint("merge"), Seq("va", "vb"))
        .groupBy(col("config"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(col("is_match")).cast(LongType).as("n_matched"))
        .crossJoin(broadcast(etot))
      textStats.unionByName(embStats)
        .select(col("config"), col("n_candidates"), col("n_matched"),
          col("pool_matches"),
          expr("(n_matched * 1000000) DIV n_candidates").as("precision_micro"),
          // Zero-guarded (r15 ADVICE): a corpus where no pooled pair
          // clears the threshold has pool_matches = 0 — Spark DIV
          // yields NULL, DuckDB // errors; both now agree on 0
          // (q183's collision_micro convention).
          when(col("pool_matches") > 0,
            expr("(n_matched * 1000000) DIV pool_matches")).otherwise(lit(0L))
            .as("recall_micro"))
        .orderBy(col("config"))
    },

    // ---- q197 (round 15): FRAME-FINGERPRINT VIDEO DEDUP — the
    // multimodal family's dedup layer (q49 decodes, q60 samples
    // frames; production then DEDUPS re-uploads by indexing frame
    // fingerprints): every video's sampled frames (the q60
    // decode→resize→sample batch pass, real iterator-to-iterator
    // executor plumbing) land in a frame-hash inverted index, and
    // pairs sharing ≥ 2 sampled frames are duplicates. The corpus
    // PLANTS re-uploads (every doc_id%10=9 video carries its
    // predecessor's payload — the same derived-media convention as
    // q49/q174); with the STUB frame hash (md5-keyed, the documented
    // environment seam) exactly the re-encoded copies collide, so the
    // planted positives are the ground truth, and swapping in a real
    // perceptual hash changes ONE function while this operator's
    // index/join shape — the part that must scale — stays. 100 TB
    // shape: decode/sample are partition-local batch passes; the ONE
    // shuffle keys on the 60-bit frame hash (the inverted index both
    // self-join sides read from cache); pair aggregation is
    // pair-keyed; never all-pairs. ----
    QueryDef("q197_frame_dedup", frameDedupOracle) { (s, dir) =>
      val base = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
        .persist() // feeds both sides of the predecessor alias join
      val m = base
        .join(base.select((col("doc_id") + 1).as("doc_id"), col("text").as("ptext")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(when(col("doc_id") % 10 === 9, col("ptext")), col("text")).as("pt"))
      val media = m.select(col("doc_id"),
        encode(col("pt"), "UTF-8").as("payload"), lit("mp4").as("format"))
      val fr = graft.pipeline.Multimodal.sampleFramesDf(media, 128, 2)
        .select(col("doc_id"), col("frame_hash"))
        .persist() // the frame inverted index; feeds both self-join sides
      fr.as("a").join(fr.as("b"),
          col("a.frame_hash") === col("b.frame_hash")
            && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- q226 (round 16): DUPLICATE FLOW MATRIX — governance insight
    // on top of the near-dup machinery (operators q41/q76 find and
    // resolve duplicates; a corpus owner also needs to know WHERE they
    // flow — which sources mirror which, the scraper-ecology question
    // behind robots policies and source weighting): q41's candidate
    // pairs (the registry operator invoked verbatim, the q138
    // convention) are mapped to source pairs via two keyed joins
    // against the doc→source dictionary, canonicalized
    // (least, greatest) so the matrix is upper-triangular, with the
    // within-source diagonal flagged. 100 TB shape: the pair frame is
    // q41's audited banded join output (never all-pairs); two keyed
    // equi joins; the matrix is ≤ #sources² rows. ----
    QueryDef("q226_dup_flow_matrix", dupFlowOracle) { (s, dir) =>
      val pairs = Registry.byName("q41_near_dup").build(s, dir)
      val src = T(s, dir, "documents").select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
          Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
          Seq("doc_b"))
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("src_a"), col("src_b"), col("n_pairs"),
          (col("src_a") === col("src_b")).cast(IntegerType).as("within_source"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // ---- q229 (round 16): LSH PARAMETER PLANNER — the theory table
    // behind every banding choice in the repo (q41/q76 run one (b, r)
    // config; q172 measures three empirically; an engineer sizing an
    // index at 100 TB first asks the CLOSED FORM: collision
    // probability 1-(1-s^r)^b over similarity s): the S-curves for
    // (32,2)/(16,4)/(8,8) over a 64-element signature, at s = 0.1..0.9.
    // Cross-engine float determinism by construction: b and r are
    // powers of two, so every power is an explicit SQUARING CHAIN
    // (interpolated from ONE Scala-generated expression into both
    // engines — no libm pow, whose last-ulp behavior differs across
    // implementations), rounded once to micro. 100 TB note: the
    // planner costs nothing (27 closed-form rows) and predicts q172's
    // measured sweep — theory and measurement ship side by side. ----
    QueryDef("q229_lsh_planner", lshPlannerOracle) { (s, dir) =>
      val cfg = s.range(1).select(explode(expr(
        "array(struct(CAST(32 AS BIGINT) AS n_bands, CAST(2 AS BIGINT) AS n_rows), " +
          "struct(CAST(16 AS BIGINT) AS n_bands, CAST(4 AS BIGINT) AS n_rows), " +
          "struct(CAST(8 AS BIGINT) AS n_bands, CAST(8 AS BIGINT) AS n_rows))")).as("c"))
        .select(col("c.n_bands").as("n_bands"), col("c.n_rows").as("n_rows"))
      val sims = s.range(1).select(explode(expr("sequence(1, 9)")).as("i"))
        .select(col("i"), expr("CAST(i AS DOUBLE) / 10").as("sim"))
      cfg.crossJoin(sims)
        .select(col("n_bands"), col("n_rows"),
          (col("i") * 100000L).as("s_micro"),
          expr(s"CAST(round(($LshPlannerCase) * 1000000, 0) AS BIGINT)")
            .as("p_micro"))
        .orderBy(col("n_bands").desc, col("s_micro"))
    },

  )
  private def minhashOracle: String = {
    val minCols = (0 until K).map(i =>
      s"min((hp * ${hashA(i)} + ${hashB(i)}) % $P) AS m$i").mkString(",\n        ")
    val bandSelects = bands.zipWithIndex.map { case ((x, y), j) =>
      s"SELECT doc_id, $j AS band, m$x || '_' || m$y AS key FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""WITH words AS (
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
       |  $bandSelects)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB mirror of q44, generated from the same bit/chunk layout. */
  private def simhashOracle: String = {
    val bitSums = (0 until SIMBITS).map(i => s"sum((hb >> $i) & 1) AS bs$i").mkString(",\n        ")
    val simBits = (0 until SIMBITS).map(i =>
      s"(CASE WHEN bs$i * 2 > n THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    val chunkSelects = (0 until SIMCHUNKS).map(j =>
      s"SELECT doc_id, sh, $j AS ck, (sh >> ${CHUNKBITS * j}) & ${(1 << CHUNKBITS) - 1} AS cv FROM sim")
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hb
       |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)),
       |bits AS (
       |  SELECT doc_id, count(*) AS n,
       |        $bitSums
       |  FROM toks GROUP BY doc_id),
       |sim AS (
       |  SELECT doc_id, $simBits AS sh FROM bits),
       |chunks AS (
       |  $chunkSelects)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.sh, b.sh)) AS hamming
       |FROM chunks a JOIN chunks b
       |  ON a.ck = b.ck AND a.cv = b.cv AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= $HAMMING_MAX
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB mirror of q45 (rare-shingle exact Jaccard). Shingles are the
    * same 60-bit md5 hashes the Spark side computes in
    * Sketches.shingleHashes — both engines build the inverted index over
    * identical longs. */
  private def jaccardOracle: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS s
      |  FROM words, unnest(generate_series(1, len(ws)-2)) AS u(i)
      |  WHERE len(ws) >= 3),
      |rare AS (
      |  SELECT s FROM sh GROUP BY s HAVING count(*) <= 4),
      |rsh AS (
      |  SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      |sizes AS (
      |  SELECT doc_id, count(*) AS nsh FROM rsh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM rsh a JOIN rsh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
      |  CAST(sa.nsh AS BIGINT) AS na, CAST(sb.nsh AS BIGINT) AS nb,
      |  round(CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB mirror of q54: same LSH grid as q46, pairwise bucket join,
    * exact cosine with the q42/q53 fold sequence, same threshold. */
  private def embeddingNearDupOracle: String =
    s"""WITH xi AS (
       |  SELECT vec_id, d, CAST(floor(embedding[d]::DOUBLE * 32768) AS BIGINT) AS xi
       |  FROM embeddings, unnest(generate_series(1, $DIM)) AS u(d)),
       |grid AS (
       |  SELECT t, p, d,
       |    1 - 2 * (('0x' || substr(md5(t || '_' || p || '_' || d), 1, 15))::BIGINT % 2) AS sg
       |  FROM unnest(generate_series(0, ${TABLES - 1})) AS a(t),
       |       unnest(generate_series(0, ${PLANES - 1})) AS b(p),
       |       unnest(generate_series(1, $DIM)) AS c(d)),
       |proj AS (
       |  SELECT vec_id, t, p, sum(xi * sg) AS pr
       |  FROM xi JOIN grid USING (d) GROUP BY vec_id, t, p),
       |bucket AS (
       |  SELECT vec_id, t, sum(CASE WHEN pr > 0 THEN 1 << p ELSE 0 END) AS bk
       |  FROM proj GROUP BY vec_id, t),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM bucket a JOIN bucket b
       |    ON a.t = b.t AND a.bk = b.bk AND a.vec_id < b.vec_id),
       |p2 AS (
       |  SELECT c.va, c.vb,
       |    unnest(ea.embedding)::DOUBLE AS x, unnest(eb.embedding)::DOUBLE AS y
       |  FROM cand c
       |  JOIN embeddings ea ON c.va = ea.vec_id
       |  JOIN embeddings eb ON c.vb = eb.vec_id),
       |s2 AS (
       |  SELECT va, vb, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
       |  FROM p2 GROUP BY va, vb)
       |SELECT va, vb, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_r
       |FROM s2
       |WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= $NEARDUP_COS
       |ORDER BY va, vb""".stripMargin

  /** DuckDB mirror of q110: q41's minhash/band CTEs with the lang column
    * carried, corpus/batch split on doc_id % 10, same kept-first rule. */
  private def incrementalNearDupOracle: String = {
    val minCols = (0 until K).map(i =>
      s"min((hp * ${hashA(i)} + ${hashB(i)}) % $P) AS m$i").mkString(",\n        ")
    val bandSelects = bands.zipWithIndex.map { case ((x, y), j) =>
      s"SELECT doc_id, lang, $j AS band, m$x || '_' || m$y AS key FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""WITH words AS (
       |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents),
       |sh AS (
       |  SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       |  FROM words, unnest(generate_series(1, len(ws)-2)) AS u(i)
       |  WHERE len(ws) >= 3),
       |h AS (
       |  SELECT doc_id, lang, ('0x' || substr(md5(s), 1, 15))::BIGINT % $P AS hp FROM sh),
       |mh AS (
       |  SELECT doc_id, lang,
       |        $minCols
       |  FROM h GROUP BY doc_id, lang),
       |bands AS (
       |  $bandSelects),
       |corpus AS (SELECT * FROM bands WHERE doc_id % 10 <> 0),
       |batch AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
       |vs_corpus AS (
       |  SELECT DISTINCT n.doc_id, n.lang FROM batch n
       |  JOIN corpus o ON n.band = o.band AND n.key = o.key),
       |in_batch AS (
       |  SELECT DISTINCT a.doc_id, a.lang FROM batch a
       |  JOIN batch b ON a.band = b.band AND a.key = b.key AND a.doc_id > b.doc_id),
       |bd AS (SELECT DISTINCT doc_id, lang FROM batch),
       |flags AS (
       |  SELECT bd.doc_id, bd.lang,
       |    CASE WHEN vc.doc_id IS NULL THEN 0 ELSE 1 END AS vs_corpus,
       |    CASE WHEN ib.doc_id IS NULL THEN 0 ELSE 1 END AS in_batch
       |  FROM bd
       |  LEFT JOIN vs_corpus vc ON bd.doc_id = vc.doc_id AND bd.lang = vc.lang
       |  LEFT JOIN in_batch ib ON bd.doc_id = ib.doc_id AND bd.lang = ib.lang)
       |SELECT lang, COUNT(*) AS n_batch,
       |  CAST(SUM(vs_corpus) AS BIGINT) AS n_dup_vs_corpus,
       |  CAST(SUM(in_batch) AS BIGINT) AS n_dup_in_batch,
       |  CAST(SUM(CASE WHEN vs_corpus = 0 AND in_batch = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_clean
       |FROM flags GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** DuckDB mirror of q98 (line-level dedup + reconstruction): same 5-word
    * segmentation, same 60-bit md5 keep-first rule, rebuilt text via
    * ORDER BY string_agg (Spark side: array_sort over (seg_idx, seg)).
    */
  private def lineDedupOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws
       |  FROM documents WHERE text IS NOT NULL),
       |n AS (
       |  SELECT doc_id, ws, CAST(ceil(len(ws) / ${Pipeline.LineWords}.0) AS BIGINT) AS n_segs FROM w),
       |segs AS (
       |  SELECT doc_id, CAST(si AS BIGINT) AS seg_idx,
       |    array_to_string(ws[si * ${Pipeline.LineWords} + 1 : si * ${Pipeline.LineWords} + ${Pipeline.LineWords}], ' ') AS seg
       |  FROM n, unnest(generate_series(0, n_segs - 1)) AS u(si)),
       |hashed AS (
       |  SELECT doc_id, seg_idx, seg,
       |    ('0x' || substr(md5(seg), 1, 15))::BIGINT AS h
       |  FROM segs),
       |r AS (
       |  SELECT doc_id, seg_idx, seg,
       |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) AS rn
       |  FROM hashed),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS rebuilt_md5
       |  FROM r WHERE rn = 1 GROUP BY doc_id)
       |SELECT n.doc_id, n.n_segs,
       |  COALESCE(agg.n_kept, 0) AS n_kept,
       |  COALESCE(agg.rebuilt_md5, md5('')) AS rebuilt_md5
       |FROM n LEFT JOIN agg USING (doc_id)
       |ORDER BY n.doc_id""".stripMargin

  /** DuckDB mirror of q180: same 60-bit gram hash, same lexicographic
    * struct-min canonical pick, same span arithmetic, same ordered
    * reassembly digest. */
  private def substringDedupOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws
       |  FROM documents WHERE text IS NOT NULL),
       |occ AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    ('0x' || substr(md5(array_to_string(ws[i : i + ${SpanK - 1}], ' ')), 1, 15))::BIGINT AS h
       |  FROM w, unnest(generate_series(1, len(ws) - ${SpanK - 1})) AS u(i)),
       |dup AS (
       |  SELECT h, min(struct_pack(d := doc_id, p := pos)) AS keep
       |  FROM occ GROUP BY h HAVING count(*) >= 2),
       |cov AS (
       |  SELECT DISTINCT o.doc_id, o.pos + off AS cp
       |  FROM occ o JOIN dup USING (h),
       |    unnest(generate_series(0, ${SpanK - 1})) AS u(off)
       |  WHERE NOT (o.doc_id = dup.keep.d AND o.pos = dup.keep.p)),
       |words AS (
       |  SELECT doc_id, CAST(p AS INT) AS pos, ws[p] AS wd
       |  FROM w, unnest(generate_series(1, len(ws))) AS u(p)),
       |kept AS (
       |  SELECT words.doc_id, words.pos, words.wd FROM words
       |  LEFT JOIN cov ON words.doc_id = cov.doc_id AND words.pos = cov.cp
       |  WHERE cov.cp IS NULL),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    md5(string_agg(wd, ' ' ORDER BY pos)) AS rebuilt_md5
       |  FROM kept GROUP BY doc_id)
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
       |  COALESCE(agg.n_kept, 0) AS n_kept,
       |  CAST(len(w.ws) AS BIGINT) - COALESCE(agg.n_kept, 0) AS n_cut,
       |  COALESCE(agg.rebuilt_md5, md5('')) AS rebuilt_md5
       |FROM w LEFT JOIN agg USING (doc_id)
       |ORDER BY w.doc_id""".stripMargin

  /** DuckDB mirror of q189: the q41 minhash/band CTEs, the q44
    * simhash/pigeonhole CTEs, and the q45 rare-shingle CTEs composed
    * over one corpus, graded by the same exact integer-micro Jaccard. */
  private def dedupMethodSweepOracle: String = {
    val minCols = (0 until K).map(i =>
      s"min((hp * ${hashA(i)} + ${hashB(i)}) % $P) AS m$i").mkString(",\n        ")
    val bandSelects = bands.zipWithIndex.map { case ((x, y), j) =>
      s"SELECT doc_id, $j AS band, m$x || '_' || m$y AS key FROM mh"
    }.mkString("\n  UNION ALL ")
    val bitSums = (0 until SIMBITS).map(i =>
      s"sum((hb >> $i) & 1) AS bs$i").mkString(",\n        ")
    val simBits = (0 until SIMBITS).map(i =>
      s"(CASE WHEN bs$i * 2 > n THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    val chunkSelects = (0 until SIMCHUNKS).map(j =>
      s"SELECT doc_id, sh AS shv, $j AS ck, (sh >> ${CHUNKBITS * j}) & ${(1 << CHUNKBITS) - 1} AS cv FROM sim")
      .mkString("\n  UNION ALL ")
    s"""WITH words AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
       |sh3 AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       |  FROM words, unnest(generate_series(1, len(ws)-2)) AS u(i)
       |  WHERE len(ws) >= 3),
       |g AS (
       |  SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS g
       |  FROM sh3),
       |sizes AS (SELECT doc_id, count(*) AS nsh FROM g GROUP BY doc_id),
       |hmh AS (
       |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % $P AS hp FROM sh3),
       |mh AS (
       |  SELECT doc_id,
       |        $minCols
       |  FROM hmh GROUP BY doc_id),
       |bands_mh AS (
       |  $bandSelects),
       |cand_mh AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands_mh a JOIN bands_mh b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |toks AS (
       |  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hb
       |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)),
       |bits AS (
       |  SELECT doc_id, count(*) AS n,
       |        $bitSums
       |  FROM toks GROUP BY doc_id),
       |sim AS (
       |  SELECT doc_id, $simBits AS sh FROM bits),
       |chunks AS (
       |  $chunkSelects),
       |cand_sh AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM chunks a JOIN chunks b
       |    ON a.ck = b.ck AND a.cv = b.cv AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.shv, b.shv)) <= $HAMMING_MAX),
       |rare AS (SELECT g FROM g GROUP BY g HAVING count(*) <= 4),
       |rsh AS (SELECT g.doc_id, g.g FROM g JOIN rare USING (g)),
       |cand_ng AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rsh a JOIN rsh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |pairs AS (
       |  SELECT 'minhash_6x2' AS config, doc_a, doc_b FROM cand_mh
       |  UNION ALL SELECT 'simhash_h3', doc_a, doc_b FROM cand_sh
       |  UNION ALL SELECT 'ngram_rare', doc_a, doc_b FROM cand_ng),
       |pool AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS i
       |  FROM pool p
       |  JOIN g ga ON ga.doc_id = p.doc_a
       |  JOIN g gb ON gb.doc_id = p.doc_b AND gb.g = ga.g
       |  GROUP BY 1, 2),
       |graded AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CASE WHEN (COALESCE(i.i, 0) * 1000000)
       |              // (sa.nsh + sb.nsh - COALESCE(i.i, 0)) >= $JaccTauMicro
       |         THEN 1 ELSE 0 END AS is_match
       |  FROM pool p
       |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |  JOIN sizes sa ON sa.doc_id = p.doc_a
       |  JOIN sizes sb ON sb.doc_id = p.doc_b),
       |tot AS (SELECT CAST(SUM(is_match) AS BIGINT) AS pool_matches FROM graded),
       |exi AS (
       |  SELECT vec_id, d, CAST(floor(embedding[d]::DOUBLE * 32768) AS BIGINT) AS xi
       |  FROM embeddings, unnest(generate_series(1, $DIM)) AS u(d)),
       |egrid AS (
       |  SELECT t, p, d,
       |    1 - 2 * (('0x' || substr(md5(t || '_' || p || '_' || d), 1, 15))::BIGINT % 2) AS sg
       |  FROM unnest(generate_series(0, ${TABLES - 1})) AS a(t),
       |       unnest(generate_series(0, ${PLANES - 1})) AS b(p),
       |       unnest(generate_series(1, $DIM)) AS c(d)),
       |eproj AS (
       |  SELECT vec_id, t, p, sum(xi * sg) AS pr
       |  FROM exi JOIN egrid USING (d) GROUP BY vec_id, t, p),
       |ebucket AS (
       |  SELECT vec_id, t, sum(CASE WHEN pr > 0 THEN 1 << p ELSE 0 END) AS bk
       |  FROM eproj GROUP BY vec_id, t),
       |cand_lsh AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM ebucket a JOIN ebucket b
       |    ON a.t = b.t AND a.bk = b.bk AND a.vec_id < b.vec_id),
       |${KmeansShared.assignCte},
       |cand_sem AS (
       |  SELECT aa.vec_id AS va, ab.vec_id AS vb
       |  FROM a2 aa JOIN a2 ab ON aa.cid = ab.cid AND aa.vec_id < ab.vec_id),
       |epairs AS (
       |  SELECT 'sign_lsh' AS config, va, vb FROM cand_lsh
       |  UNION ALL SELECT 'semantic_cell', va, vb FROM cand_sem),
       |epool AS (SELECT DISTINCT va, vb FROM epairs),
       |ep2 AS (
       |  SELECT p.va, p.vb,
       |    unnest(ea.embedding)::DOUBLE AS x, unnest(eb.embedding)::DOUBLE AS y
       |  FROM epool p
       |  JOIN embeddings ea ON p.va = ea.vec_id
       |  JOIN embeddings eb ON p.vb = eb.vec_id),
       |es2 AS (
       |  SELECT va, vb, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
       |  FROM ep2 GROUP BY 1, 2),
       |egraded AS (
       |  SELECT va, vb,
       |    CASE WHEN round(dot / (sqrt(na) * sqrt(nb)), 6) >= ${KmeansShared.SemCos}
       |         THEN 1 ELSE 0 END AS is_match
       |  FROM es2),
       |etot AS (SELECT CAST(SUM(is_match) AS BIGINT) AS pool_matches FROM egraded)
       |SELECT * FROM (
       |  SELECT config, COUNT(*) AS n_candidates,
       |    CAST(SUM(is_match) AS BIGINT) AS n_matched,
       |    pool_matches,
       |    (CAST(SUM(is_match) AS BIGINT) * 1000000) // COUNT(*) AS precision_micro,
       |    CASE WHEN pool_matches > 0 THEN
       |      (CAST(SUM(is_match) AS BIGINT) * 1000000) // pool_matches
       |      ELSE 0 END AS recall_micro
       |  FROM pairs JOIN graded USING (doc_a, doc_b), tot
       |  GROUP BY config, pool_matches
       |  UNION ALL
       |  SELECT config, COUNT(*) AS n_candidates,
       |    CAST(SUM(is_match) AS BIGINT) AS n_matched,
       |    pool_matches,
       |    (CAST(SUM(is_match) AS BIGINT) * 1000000) // COUNT(*) AS precision_micro,
       |    CASE WHEN pool_matches > 0 THEN
       |      (CAST(SUM(is_match) AS BIGINT) * 1000000) // pool_matches
       |      ELSE 0 END AS recall_micro
       |  FROM epairs JOIN egraded USING (va, vb), etot
       |  GROUP BY config, pool_matches)
       |ORDER BY config""".stripMargin
  }

  /** DuckDB mirror of q197: replays the payload aliasing, the stub
    * frame-count arithmetic (1 + h1 mod 7, every-2nd sampled) and the
    * md5-keyed frame hash, then the same shared-frame pair rule. */
  private def frameDedupOracle: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |m AS (
      |  SELECT b.doc_id,
      |    COALESCE(CASE WHEN b.doc_id % 10 = 9 THEN p.text END, b.text) AS pt
      |  FROM base b LEFT JOIN base p ON p.doc_id = b.doc_id - 1),
      |f AS (
      |  SELECT doc_id, md5(pt) AS ph,
      |    ('0x' || substr(md5(pt), 1, 8))::BIGINT AS h1
      |  FROM m),
      |n AS (SELECT doc_id, ph, 1 + h1 % 7 AS nf FROM f),
      |fr AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(ph || '_' || CAST(i AS VARCHAR)), 1, 15))::BIGINT AS fh
      |  FROM n, unnest(generate_series(1, nf, 2)) AS u(i)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |  FROM fr a JOIN fr b ON a.fh = b.fh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
      |FROM pairs
      |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB mirror of q59: the aggregate's semantics ARE K separate
    * min((hp*a_k+b_k)%P) columns, which is exactly what the oracle
    * computes — bit-identical by construction. */
  private def userMinhashOracle: String = {
    val minCols = (0 until K).map(i =>
      s"min((hp * ${hashA(i)} + ${hashB(i)}) % $P) AS m$i").mkString(",\n        ")
    val bandSelects = bands.zipWithIndex.map { case ((x, y), j) =>
      s"SELECT user_id, $j AS band, m$x || '_' || m$y AS key FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""WITH items AS (
       |  SELECT user_id,
       |    ('0x' || substr(md5(event_type || '_' || CAST(floor(value) AS BIGINT)), 1, 15))::BIGINT % $P AS hp
       |  FROM events),
       |mh AS (
       |  SELECT user_id,
       |        $minCols
       |  FROM items GROUP BY user_id),
       |bands AS (
       |  $bandSelects)
       |SELECT DISTINCT a.user_id AS user_a, b.user_id AS user_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.key = b.key AND a.user_id < b.user_id
       |ORDER BY user_a, user_b""".stripMargin
  }

  /** DuckDB mirror of q226: q41's full oracle as a subquery, the same
    * two dictionary joins and canonicalized source pairs. */
  private def dupFlowOracle: String =
    s"""WITH prs AS (SELECT * FROM ($minhashOracle)),
       |src AS (SELECT doc_id, source FROM documents)
       |SELECT least(a.source, b.source) AS src_a,
       |  greatest(a.source, b.source) AS src_b,
       |  COUNT(*) AS n_pairs,
       |  CAST(CASE WHEN least(a.source, b.source) = greatest(a.source, b.source)
       |    THEN 1 ELSE 0 END AS INTEGER) AS within_source
       |FROM prs
       |JOIN src a ON prs.doc_a = a.doc_id
       |JOIN src b ON prs.doc_b = b.doc_id
       |GROUP BY least(a.source, b.source), greatest(a.source, b.source)
       |ORDER BY src_a, src_b""".stripMargin

  /** DuckDB mirror of q229: same configs, same sim grid, the SAME
    * interpolated squaring-chain CASE. */
  private def lshPlannerOracle: String =
    s"""WITH cfg AS (
       |  SELECT CAST(n_bands AS BIGINT) AS n_bands,
       |    CAST(n_rows AS BIGINT) AS n_rows
       |  FROM (VALUES (32, 2), (16, 4), (8, 8)) AS t(n_bands, n_rows)),
       |sims AS (
       |  SELECT i, CAST(i AS DOUBLE) / 10 AS sim
       |  FROM unnest(generate_series(1, 9)) AS u(i))
       |SELECT n_bands, n_rows,
       |  CAST(i * 100000 AS BIGINT) AS s_micro,
       |  CAST(round(($LshPlannerCase) * 1000000, 0) AS BIGINT) AS p_micro
       |FROM cfg, sims
       |ORDER BY n_bands DESC, s_micro""".stripMargin

  /** The q229 squaring chain, generic over the carrier so the SQL
    * string generator and the Scala evaluator are ONE recursion by
    * construction (the law properties in QueryLawProps exercise the
    * Double instance; the engines run the String instance — same op
    * sequence, no libm pow anywhere). */
  private def sqChain[T](e: T, k: Int)(mul: (T, T) => T): T =
    if (k == 0) e else sqChain(mul(e, e), k - 1)(mul)

  /** Scala evaluation of p(b = 2^kb, r = 2^kr)(sim) = 1 - (1 - sim^r)^b
    * with the identical squaring op order as [[LshPlannerCase]]. */
  private[graft] def lshCollisionP(kb: Int, kr: Int, sim: Double): Double =
    1.0 - sqChain(1.0 - sqChain(sim, kr)(_ * _), kb)(_ * _)

  /** q229's collision-probability CASE over (n_rows, sim) — ONE
    * Scala-generated squaring-chain expression interpolated into both
    * engines, so the float op sequence is identical by construction
    * (no libm pow anywhere). */
  // def, not val: referenced from the oracle during `defs` object init
  // (the q150 init-order trap — a later val would interpolate empty).
  private[queries] def LshPlannerCase: String = {
    def sq(e: String, k: Int): String = sqChain(e, k)((a, b) => s"($a * $b)")
    // p(b = 2^kb, r = 2^kr) = 1 - (1 - sim^r)^b, all powers as squarings
    def p(kb: Int, kr: Int): String = s"1 - ${sq(s"(1 - ${sq("sim", kr)})", kb)}"
    s"CASE WHEN n_rows = 2 THEN ${p(5, 1)} " +
      s"WHEN n_rows = 4 THEN ${p(4, 2)} " +
      s"ELSE ${p(3, 3)} END"
  }

  /** DuckDB mirror of q41, generated from the same hash-family constants
    * so both engines are in lockstep by construction. */
  /** q172's three band layouts over the shared 12-perm signature. A def
    * (not a val): referenced during `defs` object init via the oracle
    * generator (the BpeMerges lesson). Spark keys use index [i]
    * (0-based element_at under the hood matches); oracle keys use the
    * same component columns. */
  private def sweepLayouts: Seq[(String, Seq[Seq[Int]])] = Seq(
    "6x2" -> (0 until 6).map(j => Seq(2 * j, 2 * j + 1)),
    "4x3" -> (0 until 4).map(j => Seq(3 * j, 3 * j + 1, 3 * j + 2)),
    "3x4" -> (0 until 3).map(j => (0 until 4).map(4 * j + _)))

  /** DuckDB mirror of q172: same signature CTE as q41's oracle, the
    * three band layouts generated from the same sweepLayouts, agreement
    * from the 12 m-columns, pool/precision/recall identical. */
  private def lshBandSweepOracle: String = {
    val minCols = (0 until K).map(i =>
      s"min((hp * ${hashA(i)} + ${hashB(i)}) % $P) AS m$i").mkString(",\n        ")
    def bandCtes(name: String, layout: Seq[Seq[Int]]): (String, String) = {
      val sel = layout.zipWithIndex.map { case (ids, j) =>
        s"SELECT doc_id, $j AS band, ${ids.map(i => s"m$i").mkString(" || '_' || ")} AS key FROM mh"
      }.mkString("\n  UNION ALL ")
      (s"""b_$name AS (
          |  $sel),
          |cand_$name AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM b_$name a JOIN b_$name b
          |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin,
        s"SELECT '$name' AS config, doc_a, doc_b FROM cand_$name")
    }
    val parts = sweepLayouts.map { case (n, l) => bandCtes(n, l) }
    val agree = (0 until K).map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH words AS (
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
       |${parts.map(_._1).mkString(",\n")},
       |pairs AS (
       |  ${parts.map(_._2).mkString("\n  UNION ALL ")}),
       |pool AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CASE WHEN ($agree) >= 6 THEN 1 ELSE 0 END AS is_match
       |  FROM (SELECT DISTINCT doc_a, doc_b FROM pairs) p
       |  JOIN mh x ON x.doc_id = p.doc_a
       |  JOIN mh y ON y.doc_id = p.doc_b),
       |tot AS (SELECT CAST(SUM(is_match) AS BIGINT) AS pool_matches FROM pool)
       |SELECT config, COUNT(*) AS n_candidates,
       |  CAST(SUM(is_match) AS BIGINT) AS n_matched,
       |  pool_matches,
       |  (CAST(SUM(is_match) AS BIGINT) * 1000000) // COUNT(*) AS precision_micro,
       |  CASE WHEN pool_matches > 0 THEN
       |    (CAST(SUM(is_match) AS BIGINT) * 1000000) // pool_matches
       |    ELSE 0 END AS recall_micro
       |FROM pairs JOIN pool USING (doc_a, doc_b), tot
       |GROUP BY config, pool_matches
       |ORDER BY config""".stripMargin
  }
}
