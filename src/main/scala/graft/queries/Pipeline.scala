package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables

/** Training-data pipeline operators over `documents` / `embeddings` /
  * `events` (the north-star surface beyond reference parity, SURVEY §7.5).
  *
  * Every operator is designed for the 100 TB shape first:
  *   - dedup is the one-shuffle window idiom, not dropDuplicates (whose
  *     kept-row is nondeterministic) and never a driver-side collect;
  *   - near-dup candidate generation joins on MinHash band buckets —
  *     all-pairs comparison never appears in any plan;
  *   - similarity search is embarrassingly parallel per row with a single
  *     top-k TakeOrdered at the end.
  *
  * Cross-engine determinism for the DuckDB oracle: all hashing reduces to
  * md5 (identical everywhere) mapped to a 60-bit integer, all integer
  * arithmetic, and any floating-point output is either a single division
  * or rounded to 6 decimals (association drift across engines is ~1e-13).
  */
object Pipeline {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- q46 constants: shared between the Spark grid and the oracle.
  // (Declared BEFORE `defs`: the oracle strings interpolate them at object
  // init, and a later declaration would read as 0 — Scala val-init order.)
  //
  // Tuning: 8 tables x 6 sign bits -> candidate fraction ~ 8/2^6 = 1/8 of
  // the corpus, with ~91% recall for true near-neighbors (cos >= 0.8:
  // per-bit collision p = 1 - angle/pi ~ 0.8, table hit p^6 ~ 0.26,
  // 1-(1-0.26)^8 ~ 0.91). NOTE the fixture embeddings are random (max
  // pairwise cosine ~0.40 measured at sf0.01), so on THIS data the
  // candidate set is necessarily near-random — sign-LSH separates real
  // near-dup structure, which random vectors do not have; the oracle
  // checks engine agreement, not retrieval quality.
  private val TABLES = graft.functions.Sketches.TABLES
  private val PLANES = graft.functions.Sketches.PLANES
  private val DIM = graft.functions.Sketches.DIM

  // q98/q124 "line" width in words (shared with the graft_line_hashes
  // kernel so the SQL and native formulations cannot drift). 5 on the
  // word-soup fixture yields real cross-document duplicates (320 of
  // 5,638 segments at sf0.01); real corpora would segment on newlines.
  private[queries] val LineWords = graft.functions.Sketches.LINE_WORDS

  // q99 posting-list cap (top-K documents by tf retained per term).
  private[queries] val POSTK = 3

  // q142 sampling budget: total docs the smoothed multinomial allocates.
  private val MixBudget = 100000L

  // q124 boilerplate rule: a line is boilerplate within a source when it
  // appears in >= this many distinct documents of that source. Real
  // corpora tune per site; 3 is what the word-soup fixture supports.
  private[queries] val BoilerMinDocs = 3

  /** Profile size for q126's per-language trigram table (Cavnar–Trenkle
    * used 300; 100 keeps the broadcast tiny and the fixture saturated).
    * Declared before `defs` — val-init order (see the MinHash note). */
  private val LangIdProfileK = 100

  /** Shared per-document bigram-LM cross-entropy frame — q103 scores
    * outliers from it, q122 buckets the whole corpus by it; one kernel so
    * the two cannot drift (the q93/q100 no-drift rule). Columns:
    * (doc_id, lang, ce_raw DOUBLE, n_bigrams LONG).
    *
    * An add-one-smoothed per-language word-bigram LM is "trained" as two
    * count aggregations over the corpus and every document is scored by
    * its average negative log-likelihood. Bigram (prefix, pair) hashes
    * come from the one-pass native kernel (SketchParitySpec pins it
    * against the sequence-explode + two-md5 SQL formulation the oracles
    * still write). 100 TB shape: bigrams reduce to 60-bit hashes
    * scan-locally, the count tables and the scoring join are all keyed on
    * (lang, hash) — canonical co-partitioned token-statistics joins; the
    * #langs-row vocab table broadcasts. bg feeds four consumers ->
    * persisted (one corpus scan, q85/q88/q99 rule).
    */
  private[queries] def bigramCePerDoc(s: SparkSession, dir: String): DataFrame = {
    // (Round 22 note: the q122 probe shows the bg cache as ONE
    // partition — serial fill plus serial map sides of the four
    // downstream passes, ~4 x 0.35 s one-task stages — so a
    // Tables.loadSpread here looked right; it A/B-measured strongly
    // NEGATIVE twice across all three consumers (q103 1.06/1.17 ->
    // 1.41/1.70, q122 1.11/1.20 -> 1.41/1.78, q140 1.16/1.24 ->
    // 1.76/2.28): the text shuffle + extra AQE stage round-trips beat
    // the parallelized passes at this SF, the q180/q184/q200 result.
    // The r21 spreads that DID win (q66/q126/q166/q181/q205) all carry
    // far heavier per-row kernels. Reverted; not retried.)
    val bg = T(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        explode(expr("graft_bigram_hashes(text)")).as("bh"))
      .select(col("doc_id"), col("lang"),
        col("bh.h1").as("h1"), col("bh.h2").as("h2"))
      .persist()
    val c2 = bg.groupBy(col("lang"), col("h2")).agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("lang"), col("h1")).agg(count(lit(1)).as("c1"))
    val vocab = bg.select(col("lang"), col("h1")).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("v"))
    bg.join(c2, Seq("lang", "h2"))
      .join(c1, Seq("lang", "h1"))
      .join(broadcast(vocab), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        (-log((col("c2") + lit(1)).cast(DoubleType) / (col("c1") + col("v")))).as("nll"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(avg(col("nll")).as("ce_raw"), count(lit(1)).as("n_bigrams"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- exact dedup: the scalable keep-first idiom (one shuffle, no
    // driver state). dropDuplicates keeps an arbitrary row; partition +
    // row_number pins the representative deterministically. ----
    QueryDef(
      "q40_dedup_exact",
      """SELECT event_id, user_id, event_type, value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type, value ORDER BY event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      // Round 22 (guide §2.3): the representative pick is min(event_id)
      // per key group and every other output column IS the group key —
      // a plain aggregate with map-side partials, so each map task
      // ships one row per local key group and the per-key sort the
      // row_number window paid disappears. Row-identical to the
      // ROW_NUMBER()=1 pick (min event_id is rank 1 under ORDER BY
      // event_id; event_id is unique).
      T(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"), col("value"))
        .agg(min(col("event_id")).as("event_id"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    },

    // ---- text analysis: language-ID heuristic (stopword markers),
    // quality ratios, and a BPE-ish regex token count, aggregated per
    // (labelled lang, predicted lang). All per-doc work is ONE scan-local
    // pass (graft_text_counts) — the split/filter×5/regexp expression
    // forest this replaces walked the text seven times per row. ----
    QueryDef("q43_text_stats", textStatsOracle) { (s, dir) =>
      val counts = T(s, dir, "documents")
        .select(col("lang"), col("n_chars"), expr("graft_text_counts(text)").as("tc"))
        .select(col("lang"), col("n_chars"),
          col("tc")(0).as("n_tok"), col("tc")(1).as("n_rgx"),
          col("tc")(2).as("c_en"), col("tc")(3).as("c_de"),
          col("tc")(4).as("c_es"), col("tc")(5).as("c_fr"), col("tc")(6).as("c_zh"))
      val pred = when(col("c_en") >= greatest(col("c_de"), col("c_es"), col("c_fr"), col("c_zh")) && col("c_en") > 0, "en")
        .when(col("c_de") >= greatest(col("c_es"), col("c_fr"), col("c_zh")) && col("c_de") > 0, "de")
        .when(col("c_es") >= greatest(col("c_fr"), col("c_zh")) && col("c_es") > 0, "es")
        .when(col("c_fr") >= col("c_zh") && col("c_fr") > 0, "fr")
        .when(col("c_zh") > 0, "zh")
        .otherwise("und")
      counts
        .withColumn("lang_pred", pred)
        .withColumn("n_stop", col("c_en") + col("c_de") + col("c_es") + col("c_fr") + col("c_zh"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tokens"),
          sum(col("n_rgx")).as("sum_rgx_tokens"),
          (sum(col("n_tok")).cast(DoubleType) / count(lit(1))).as("avg_tokens"),
          (sum(col("n_stop")).cast(DoubleType) / sum(col("n_tok"))).as("stop_ratio"),
          (sum(col("n_chars")).cast(DoubleType) / sum(col("n_tok"))).as("chars_per_tok"))
        .orderBy(col("lang"), col("lang_pred"))
    },

    // ---- dataset splitting: deterministic hash-bucket train/val/test
    // assignment (md5 of the stable id -> bucket 0..99 -> 80/10/10).
    // Hash-based splits survive re-runs, joins, and incremental appends —
    // the property row_number-based splits lose at scale. ----
    QueryDef(
      "q34_hash_split",
      """WITH b AS (
        |  SELECT lang, n_chars,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |  FROM documents),
        |s AS (
        |  SELECT lang, n_chars,
        |    CASE WHEN bucket < 80 THEN 'train'
        |         WHEN bucket < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b)
        |SELECT lang, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY lang, split
        |ORDER BY lang, split""".stripMargin) { (s, dir) =>
      val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType) % 100
      T(s, dir, "documents")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("split"))
    },

    // ---- data mixing: per-language weighted downsampling via hash
    // thresholds (en 50%, others 100%). Hash sampling is deterministic,
    // join-stable, and needs no global count — the reservoir/random()
    // alternatives are neither. ----
    QueryDef(
      "q35_weighted_sample",
      """WITH h AS (
        |  SELECT lang,
        |    ('0x' || substr(md5('mix_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |  FROM documents),
        |k AS (
        |  SELECT lang, CASE WHEN lang = 'en' THEN bucket < 50 ELSE true END AS keep
        |  FROM h)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM k GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      // salt "mix_" decorrelates this hash from q34's split buckets —
      // sampling decisions must be independent across uses
      val bucket = conv(substring(md5(concat(lit("mix_"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
        .cast(LongType) % 100
      T(s, dir, "documents")
        .withColumn("keep", when(col("lang") === "en", bucket < 50).otherwise(lit(true)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1).otherwise(0)).as("n_kept"))
        .orderBy(col("lang"))
    },

    // ---- n-gram statistics: top-3 word bigrams per language (explode,
    // count, windowed top-k — corpus-level LM diagnostics). ----
    QueryDef(
      "q37_ngram_stats",
      """WITH words AS (
        |  SELECT lang, string_split(lower(text), ' ') AS ws FROM documents),
        |bg AS (
        |  SELECT lang, ws[i] || ' ' || ws[i+1] AS bigram
        |  FROM words, unnest(generate_series(1, len(ws)-1)) AS u(i)
        |  WHERE len(ws) >= 2),
        |c AS (
        |  SELECT lang, bigram, COUNT(*) AS cnt FROM bg GROUP BY lang, bigram),
        |r AS (
        |  SELECT lang, bigram, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rk
        |  FROM c)
        |SELECT lang, rk, bigram, cnt FROM r WHERE rk <= 3
        |ORDER BY lang, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val words = T(s, dir, "documents")
        .select(col("lang"), split(lower(col("text")), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
      val bigrams = words
        .select(col("lang"), explode(sequence(lit(1), size(col("ws")) - 1)).as("i"), col("ws"))
        .select(col("lang"), concat_ws(" ",
          element_at(col("ws"), col("i")), element_at(col("ws"), col("i") + 1)).as("bigram"))
      val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("bigram"))
      bigrams.groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("lang"), col("rk"), col("bigram"), col("cnt"))
        .orderBy(col("lang"), col("rk"))
    },

    // ---- sequence packing: assign documents to fixed-token-budget
    // chunks via a running token count per source shard (PARTITION BY
    // source keeps the window parallel — a single global running sum
    // would serialize at 100 TB). chunk = floor(start_offset / budget). ----
    QueryDef(
      "q36_sequence_pack",
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(lower(text), ' ')) AS n_tok
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |                     ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
        |  FROM t)
        |SELECT source, CAST(start_off // 2048 AS BIGINT) AS chunk,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM r GROUP BY source, CAST(start_off // 2048 AS BIGINT)
        |ORDER BY source, chunk""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(split(lower(col("text")), " ")).as("n_tok"))
        .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
        .withColumn("chunk", floor(col("start_off") / 2048))
        .groupBy(col("source"), col("chunk"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy(col("source"), col("chunk"))
    },

    // ---- quality filtering: C4-style per-document heuristics (length,
    // token shape, stopword presence, vocabulary diversity), reported as
    // independent drop counts + survivors per language. Every rule is
    // scan-local (no shuffle before the final small aggregate). ----
    QueryDef(
      "q47_quality_filter",
      """WITH d AS (
        |  SELECT lang, n_chars, string_split(lower(text), ' ') AS ws FROM documents),
        |m AS (
        |  SELECT lang,
        |    len(ws) AS n_tok,
        |    CAST(n_chars - (len(ws) - 1) AS DOUBLE) / len(ws) AS mean_tok_len,
        |    len(list_filter(ws, x -> x = 'the' OR x = 'a' OR x = 'of')) AS n_stop,
        |    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS distinct_ratio
        |  FROM d),
        |r AS (
        |  SELECT lang,
        |    CASE WHEN n_tok BETWEEN 10 AND 1000 THEN 0 ELSE 1 END AS d1,
        |    CASE WHEN mean_tok_len >= 2 AND mean_tok_len <= 12 THEN 0 ELSE 1 END AS d2,
        |    CASE WHEN n_stop >= 1 THEN 0 ELSE 1 END AS d3,
        |    CASE WHEN distinct_ratio >= 0.3 THEN 0 ELSE 1 END AS d4
        |  FROM m)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN d1 + d2 + d3 + d4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  CAST(SUM(d1) AS BIGINT) AS drop_len,
        |  CAST(SUM(d2) AS BIGINT) AS drop_tok_shape,
        |  CAST(SUM(d3) AS BIGINT) AS drop_no_stopwords,
        |  CAST(SUM(d4) AS BIGINT) AS drop_low_diversity
        |FROM r GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      val d = T(s, dir, "documents")
        .withColumn("ws", split(lower(col("text")), " "))
        .withColumn("n_tok", size(col("ws")))
        .withColumn("mean_tok_len",
          (col("n_chars") - (col("n_tok") - 1)).cast(DoubleType) / col("n_tok"))
        .withColumn("n_stop",
          size(filter(col("ws"), w => w === "the" || w === "a" || w === "of")))
        .withColumn("distinct_ratio",
          size(array_distinct(col("ws"))).cast(DoubleType) / col("n_tok"))
      d.select(col("lang"),
          when(col("n_tok").between(10, 1000), 0).otherwise(1).as("d1"),
          when(col("mean_tok_len") >= 2 && col("mean_tok_len") <= 12, 0).otherwise(1).as("d2"),
          when(col("n_stop") >= 1, 0).otherwise(1).as("d3"),
          when(col("distinct_ratio") >= 0.3, 0).otherwise(1).as("d4"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("d1") + col("d2") + col("d3") + col("d4") === 0, 1).otherwise(0)).as("kept"),
          sum(col("d1")).as("drop_len"),
          sum(col("d2")).as("drop_tok_shape"),
          sum(col("d3")).as("drop_no_stopwords"),
          sum(col("d4")).as("drop_low_diversity"))
        .orderBy(col("lang"))
    },

    // ---- document fingerprinting: min char-8-gram hash over the
    // normalized head (first 64 chars) — a rolling-hash-style content
    // fingerprint whose collisions surface near-dup heads; grouped into
    // collision clusters. ----
    QueryDef(
      "q48_fingerprint",
      s"""WITH n AS (
         |  SELECT doc_id, substr(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 64) AS nt
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, substr(nt, i, 8) AS gram
         |  FROM n, unnest(generate_series(1, len(nt) - 7)) AS u(i)
         |  WHERE len(nt) >= 8),
         |fp AS (
         |  SELECT doc_id, min(('0x' || substr(md5(gram), 1, 15))::BIGINT) AS fp
         |  FROM g GROUP BY doc_id)
         |SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM fp GROUP BY fp HAVING COUNT(*) > 1
         |ORDER BY fp""".stripMargin) { (s, dir) =>
      val docs = T(s, dir, "documents")
      val norm = docs.select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "\\s+", " "), 1, 64).as("nt"))
        .filter(length(col("nt")) >= 8)
      val grams = norm
        .select(col("doc_id"),
          explode(sequence(lit(1), length(col("nt")) - 7)).as("i"), col("nt"))
        .select(col("doc_id"), expr("substring(nt, i, 8)").as("gram"))
      val fp = grams.groupBy(col("doc_id"))
        .agg(min(conv(substring(md5(col("gram")), 1, 15), 16, 10).cast(LongType)).as("fp"))
      fp.groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .filter(col("n_docs") > 1)
        .orderBy(col("fp"))
    },

    // ---- multimodal columns: opaque binary payloads + metadata, decoded
    // by the batch mapPartitions stub (graft.pipeline.Multimodal) — the
    // real executor-side plumbing with a deterministic fake decoder whose
    // arithmetic the oracle replays in SQL. ----
    QueryDef(
      "q49_multimodal",
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 3 = 0 THEN 'png'
        |         WHEN doc_id % 3 = 1 THEN 'jpeg'
        |         ELSE 'wav' END AS format
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, format, octet_length(encode(text)) AS byte_len,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT AS h1
        |  FROM m),
        |g AS (
        |  SELECT doc_id, format, byte_len,
        |    64 + h1 % 193 AS width, 64 + (h1 // 193) % 193 AS height,
        |    1 + h1 % 7 AS n_frames
        |  FROM f)
        |SELECT format, COUNT(*) AS n_media,
        |  CAST(SUM(byte_len) AS BIGINT) AS sum_bytes,
        |  CAST(SUM(width) AS DOUBLE) / COUNT(*) AS avg_w,
        |  CAST(SUM(height) AS DOUBLE) / COUNT(*) AS avg_h,
        |  CAST(SUM(n_frames) AS BIGINT) AS total_frames
        |FROM g GROUP BY format
        |ORDER BY format""".stripMargin) { (s, dir) =>
      val media = T(s, dir, "documents")
        .select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          when(col("doc_id") % 3 === 0, "png")
            .when(col("doc_id") % 3 === 1, "jpeg")
            .otherwise("wav").as("format"))
      val feats = graft.pipeline.Multimodal.extractFeaturesDf(media)
      feats.groupBy(col("format"))
        .agg(
          count(lit(1)).as("n_media"),
          sum(col("byte_len")).as("sum_bytes"),
          (sum(col("width")).cast(DoubleType) / count(lit(1))).as("avg_w"),
          (sum(col("height")).cast(DoubleType) / count(lit(1))).as("avg_h"),
          sum(col("n_frames")).as("total_frames"))
        .orderBy(col("format"))
    },

    // ---- benchmark decontamination: flag training documents sharing any
    // word-3-gram with a held-out "benchmark" set (here: doc_id % 50 = 0,
    // a stand-in for an eval suite). Shingles are the scan-local 60-bit
    // hashes; the membership test is a LEFT SEMI join on longs. At 100 TB
    // the benchmark hash set is small and broadcasts — contamination
    // checking is a map-side filter over the corpus. ----
    QueryDef("q57_decontaminate", decontaminateOracle) { (s, dir) =>
      val sh = T(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(expr("graft_shingle_hashes(text)")).as("h"))
      val benchHashes = sh.filter(col("doc_id") % 50 === 0)
        .select(col("h")).distinct()
      val train = sh.filter(col("doc_id") % 50 =!= 0)
      val contaminated = train
        .join(broadcast(benchHashes), Seq("h"), "left_semi")
        .select(col("doc_id"), col("lang")).distinct()
      val trainDocs = T(s, dir, "documents")
        .filter(col("doc_id") % 50 =!= 0)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_train"))
      val contamCounts = contaminated
        .groupBy(col("lang")).agg(count(lit(1)).as("n_contaminated"))
      trainDocs.join(contamCounts, Seq("lang"), "left")
        .select(col("lang"), col("n_train"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
        .orderBy(col("lang"))
    },

    // ---- within-document repetition: duplicate word-3-gram ratio per
    // document (1 - distinct/total), a standard boilerplate/spam signal.
    // Entirely scan-local — two array functions over the shingle-hash
    // kernel, then one small aggregate. ----
    QueryDef("q58_repetition", repetitionOracle) { (s, dir) =>
      T(s, dir, "documents")
        .select(col("lang"), expr("graft_shingle_hashes(text)").as("hs"))
        .filter(col("hs").isNotNull)
        .select(col("lang"), size(col("hs")).as("total"),
          size(array_distinct(col("hs"))).as("uniq"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("total")).as("sum_shingles"),
          sum(col("total") - col("uniq")).as("sum_dups"),
          round(avg(lit(1.0) - col("uniq").cast(DoubleType) / col("total")), 6)
            .as("avg_dup_ratio"))
        .orderBy(col("lang"))
    },

    // ---- multimodal stage 2: decode -> aspect-preserving resize (max dim
    // 224) -> every-2nd-frame sampling, as a row-EXPANDING mapPartitions
    // pass (one media row -> ceil(n_frames/2) frame rows, streamed
    // iterator-to-iterator). The oracle replays the stub arithmetic and
    // checksums sampled frame hashes with bit_xor (order-independent). ----
    QueryDef("q60_multimodal_frames", framesOracle) { (s, dir) =>
      val media = T(s, dir, "documents")
        .select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          when(col("doc_id") % 3 === 0, "png")
            .when(col("doc_id") % 3 === 1, "jpeg")
            .otherwise("wav").as("format"))
      val frames = graft.pipeline.Multimodal.sampleFramesDf(media, 224, 2)
      frames.groupBy(col("format"))
        .agg(
          count(lit(1)).as("n_frames_sampled"),
          count_distinct(col("doc_id")).as("n_media"),
          (sum(col("scaled_w")).cast(DoubleType) / count(lit(1))).as("avg_w"),
          (sum(col("scaled_h")).cast(DoubleType) / count(lit(1))).as("avg_h"),
          expr("bit_xor(frame_hash)").as("frames_checksum"))
        .orderBy(col("format"))
    },

    // ---- q238 (round 17, VERDICT r16 #5): REAL WAV audio decode E2E.
    // Each document seeds a deterministic 16-bit PCM mono waveform
    // (sample[i] = (doc_id*7919 + i*31) % 4001 - 2000, n = 400*(2 +
    // doc_id%4) frames); the Spark side wraps the samples in a REAL
    // RIFF/WAVE container (Multimodal.wavBytes), then DECODES the bytes
    // back through the JDK's javax.sound.sampled parser and computes
    // per-400-sample-window integer RMS (isqrt(sum_sq DIV n), pure
    // int64) in the row-expanding mapPartitions pass. The oracle NEVER
    // sees the container — it replays the waveform formula directly —
    // so row equality proves the encode→parse→PCM-extract round trip is
    // genuine and lossless, the q213 detok-roundtrip idea applied to
    // audio. 100 TB shape: decode is scan-local iterator-to-iterator
    // (no shuffle until the dictionary-sized lang rollup), exactly how
    // a real speech-corpus featurizer runs. ----
    QueryDef("q238_wav_rms", wavRmsOracle) { (s, dir) =>
      import s.implicits._
      val media = T(s, dir, "documents")
        .select(col("doc_id"), col("lang")).as[(Long, String)]
        .mapPartitions(_.map { case (docId, lang) =>
          val n = 400 * (2 + (docId % 4).toInt)
          val samples = Array.tabulate(n)(i =>
            ((docId * 7919L + i * 31L) % 4001L).toInt - 2000)
          (docId, lang, graft.pipeline.Multimodal.wavBytes(samples, 8000))
        }).toDF("doc_id", "lang", "payload")
        .withColumn("format", lit("wav"))
      val windows = graft.pipeline.Multimodal.audioWindowsDf(
        media.select(col("doc_id"), col("payload"), col("format")), 400)
      windows
        .join(T(s, dir, "documents").select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_windows"),
          sum(col("n_samples")).cast(LongType).as("n_samples"),
          sum(col("sum_sq")).cast(LongType).as("sum_sq"),
          max(col("rms")).as("max_rms"),
          sum(col("rms")).cast(LongType).as("sum_rms"))
        .orderBy(col("lang"))
    },

    // ---- q234 (round 16): FILTER-THRESHOLD SENSITIVITY — the curve a
    // curator reads before committing to a quality gate (q149/q200
    // fix ONE threshold; budget planning needs to know how keep-rate
    // and token mass respond around it — a cliff means the gate is
    // brittle, a plateau means it's cheap to tighten): the
    // distinct-token-ratio gate swept at 350k/450k/550k micros, each
    // row reporting kept docs, kept tokens, and both as micro shares
    // of the corpus. 100 TB shape: ONE scoring scan feeds all three
    // thresholds (the sweep is a conditional aggregation, not three
    // passes); totals ride the audited 1-row broadcast; output 3
    // rows. ----
    QueryDef("q234_threshold_sweep", thresholdSweepOracle) { (s, dir) =>
      val scored = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("ws", split(lower(col("text")), " "))
        .select(
          size(col("ws")).cast(LongType).as("n_tok"),
          expr("CAST(round(CAST(size(array_distinct(ws)) AS DOUBLE) / size(ws) * 1000000, 0) AS BIGINT)")
            .as("score_micro"))
      // ONE aggregation pass computes every threshold's conditional
      // sums; the 1-row result explodes into the 3-row sweep.
      val ths = Seq(350000L, 450000L, 550000L)
      val aggCols =
        Seq(count(lit(1)).as("n_all"),
          sum(col("n_tok")).cast(LongType).as("tok_all")) ++
          ths.flatMap { th =>
            Seq(sum(when(col("score_micro") >= th, 1L).otherwise(0L))
                .cast(LongType).as(s"k$th"),
              sum(when(col("score_micro") >= th, col("n_tok")).otherwise(lit(0L)))
                .cast(LongType).as(s"t$th"))
          }
      scored.agg(aggCols.head, aggCols.tail: _*)
        .select(col("n_all"), col("tok_all"),
          explode(expr(ths.map(th =>
            s"struct(CAST($th AS BIGINT) AS threshold_micro, k$th AS n_kept, t$th AS tok_kept)")
            .mkString("array(", ", ", ")"))).as("leg"))
        .select(col("leg.threshold_micro").as("threshold_micro"),
          col("leg.n_kept").as("n_kept"), col("leg.tok_kept").as("tok_kept"),
          expr("(leg.n_kept * 1000000) DIV n_all").as("keep_micro"),
          // Zero-guarded (the r15 ADVICE divisor class): a corpus of
          // empty texts has tok_all = 0 — the engines must agree on 0.
          when(col("tok_all") > 0,
            expr("(leg.tok_kept * 1000000) DIV tok_all"))
            .otherwise(lit(0L)).as("token_keep_micro"))
        .orderBy(col("threshold_micro"))
    },

    // ---- q235 (round 16): WORD BURSTINESS — the corpus-linguistics
    // diagnostic separating topical words from function words (a
    // bursty word concentrates its occurrences in few documents —
    // topical; a uniform word spreads — grammatical; quality filters
    // and keyword extractors both lean on this): for the top-20
    // corpus words by total count, exact integer occurrence totals,
    // document frequency, the max per-doc count, and mean occurrences
    // per containing doc in micros. 100 TB shape: ONE (word, doc)
    // aggregate, a word rollup, and a top-20 TakeOrdered — the q96
    // corpus-stats shape; output 20 rows. ----
    QueryDef("q235_burstiness", burstinessOracle) { (s, dir) =>
      val wd = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
      wd.groupBy(col("w"))
        .agg(sum(col("c")).cast(LongType).as("total"),
          count(lit(1)).as("df"),
          max(col("c")).cast(LongType).as("max_in_doc"))
        .select(col("w"), col("total"), col("df"), col("max_in_doc"),
          expr("(total * 1000000) DIV df").as("mean_per_doc_micro"))
        .orderBy(col("total").desc, col("w"))
        .limit(20)
    },

    // ---- q231 (round 16): ZIPF HEAD/TAIL PROFILE — the corpus-shape
    // report that decides tokenizer and filter budgets (how much of
    // the token stream is the top-100 head? how long is the hapax
    // tail? — the numbers behind vocab sizing, stopword lists, and
    // the intuition that web corpora are ~half boilerplate head):
    // per source, exact token/type counts, hapax count, top-100 head
    // mass, and the type-token ratio, all integer micros. 100 TB
    // shape: ONE (source, word) aggregate (the irreducible shuffle),
    // then a source-keyed rank window whose head cut runs as a
    // per-partition top-k, and a source-keyed rollup; output #sources
    // rows. ----
    QueryDef("q231_zipf_profile", zipfProfileOracle) { (s, dir) =>
      val freqs = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("freq"))
        .persist() // feeds the rollup AND the head-rank window
      val base = freqs.groupBy(col("source"))
        .agg(sum(col("freq")).cast(LongType).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("freq") === 1, 1L).otherwise(0L)).cast(LongType)
            .as("n_hapax"))
      val head = freqs
        .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("freq").desc, col("w"))))
        .filter(col("rk") <= 100)
        .groupBy(col("source"))
        .agg(sum(col("freq")).cast(LongType).as("head_mass"))
      base.join(head, Seq("source"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          expr("(head_mass * 1000000) DIV n_tokens").as("head100_micro"),
          expr("(n_hapax * 1000000) DIV n_types").as("hapax_micro"),
          expr("(n_types * 1000000) DIV n_tokens").as("ttr_micro"))
        .orderBy(col("source"))
    },

    // ---- q232 (round 16): VOCABULARY NOVELTY UNDER GROWTH — the
    // freshness lens q206's distribution drift can't see (a batch can
    // match the corpus distribution perfectly while carrying zero new
    // vocabulary, or shift wildly while reusing old words; curators
    // track BOTH): the late batch (the q209 delta cohort) scored
    // against the standing corpus vocabulary — per source, the
    // batch's token mass, its novel types (words the v1 corpus never
    // saw, a keyed anti join against the v1 type set), and the novel
    // token mass in integer micros. Fixture honesty: source =
    // src(doc_id % 20), so the % 10 = 7 cohort spans exactly
    // {src7, src17} — the report covers the sources the batch
    // actually touches (2 rows here), and the fixture's shared
    // vocabulary yields novelty 0, which the oracle pins as the TRUE
    // zero rather than asserting a planted number. 100 TB shape: two
    // (source-local)
    // word aggregates + ONE type-keyed anti join (batch types vs the
    // corpus vocabulary — both type-sized, not corpus-sized); output
    // #sources rows. ----
    QueryDef("q232_growth_novelty", growthNoveltyOracle) { (s, dir) =>
      def words(cond: Column): DataFrame = T(s, dir, "documents")
        .filter(col("text").isNotNull && cond)
        .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val v1Types = words(col("doc_id") % 10 =!= 7)
        .select(col("w")).distinct()
      val delta = words(col("doc_id") % 10 === 7)
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("freq"))
      val novel = delta.join(v1Types, Seq("w"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("novel_types"),
          sum(col("freq")).cast(LongType).as("novel_mass"))
      delta.groupBy(col("source"))
        .agg(sum(col("freq")).cast(LongType).as("delta_tokens"),
          count(lit(1)).as("delta_types"))
        .join(novel, Seq("source"), "left")
        .select(col("source"), col("delta_tokens"), col("delta_types"),
          coalesce(col("novel_types"), lit(0L)).as("novel_types"),
          coalesce(col("novel_mass"), lit(0L)).as("novel_mass"),
          expr("(coalesce(novel_mass, 0) * 1000000) DIV delta_tokens")
            .as("novelty_micro"))
        .orderBy(col("source"))
    },

    // ---- q225 (round 16): INSPECTION SAMPLE — the human-QA appendix
    // every data card ships (reviewers eyeball a handful of docs per
    // source; the sample must be DETERMINISTIC so two auditors argue
    // about the same rows, and UNBIASED so nobody cherry-picks): per
    // source, the top-3 docs by a salted hash order ("qa:" + doc_id —
    // content-free, reproducible, uncorrelated with every other salt
    // in the repo), each row carrying its token count and text digest
    // so the reviewed bytes are pinned. 100 TB shape: ONE source-keyed
    // rank window that the optimizer executes as a per-partition
    // top-k (WindowGroupLimit — no full sort of any source's corpus);
    // output 3×#sources rows. ----
    QueryDef("q225_inspection_sample", inspectionSampleOracle) { (s, dir) =>
      val hkey = conv(substring(md5(concat(lit("qa:"),
        col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType)
      val w = Window.partitionBy(col("source"))
        .orderBy(col("hkey"), col("doc_id"))
      T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          size(split(lower(col("text")), " ")).cast(LongType).as("n_tok"),
          md5(col("text")).as("text_md5"), hkey.as("hkey"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk"), col("doc_id"), col("n_tok"),
          col("text_md5"))
        .orderBy(col("source"), col("rk"))
    },

    // ---- duplicated-span detection (ExactSubstr made tractable): strided
    // 32-char rolling windows over lower(text), hashed scan-locally by the
    // native graft_span_hashes kernel and deduped WITHIN the document by
    // array_distinct before the explode — so the only shuffles are the
    // span-hash window (which spans appear in >= 2 docs) and the per-doc
    // rollup. Distinct from q48 (head fingerprint) and q98 (line-level):
    // this finds PARTIAL cross-document duplication anywhere in the text,
    // the Lee-et-al. "deduplicating training data" signal. At 100 TB the
    // hash-keyed exchange carries 8-byte longs at ~len/8 per doc, never
    // the text. ----
    QueryDef("q102_dup_spans", dupSpansOracle) { (s, dir) =>
      val spans = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(expr("graft_span_hashes(text)"))).as("h"))
      val wH = Window.partitionBy(col("h"))
      val per = spans.withColumn("n_docs_with", count(lit(1)).over(wH))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("n_docs_with") >= 2, 1L).otherwise(0L)).as("n_dup"))
      per.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_spans")).as("sum_spans"),
          sum(col("n_dup")).as("sum_dup_spans"),
          round(avg(col("n_dup").cast(DoubleType) / col("n_spans")), 6).as("avg_dup_frac"),
          sum(when(col("n_dup") * 2 >= col("n_spans"), 1L).otherwise(0L)).as("n_docs_flagged"))
        .orderBy(col("lang"))
    },

    // ---- bigram-LM quality scoring (the CCNet/KenLM idea, self-trained):
    // an add-one-smoothed per-language word-bigram LM is "trained" as two
    // count aggregations over the corpus, and every document is scored by
    // its average negative log-likelihood — high cross-entropy = improbable
    // under the corpus's own statistics = quality outlier. Reported: the
    // top-3 most improbable documents per language. 100 TB shape: bigrams
    // reduce to 60-bit hashes scan-locally, the count tables and the
    // scoring join are all keyed on (lang, hash) — canonical co-partitioned
    // token-statistics joins; the 5-row vocab table broadcasts. bg feeds
    // four consumers -> persisted (one corpus scan, q85/q88/q99 rule). ----
    QueryDef("q103_bigram_lm", bigramLmOracle) { (s, dir) =>
      val per = bigramCePerDoc(s, dir)
      val wLang = Window.partitionBy(col("lang")).orderBy(col("ce_raw").desc, col("doc_id"))
      per.withColumn("rk", row_number().over(wLang))
        .filter(col("rk") <= 3)
        .select(col("lang"), col("rk"), col("doc_id"),
          round(col("ce_raw"), 6).as("ce"), col("n_bigrams"))
        .orderBy(col("lang"), col("rk"))
    },

    // ---- leakage-safe dataset split: q34 hashes doc_id, which puts
    // exact/near duplicates in DIFFERENT splits — train/test leakage.
    // Here the split keys on the CONTENT fingerprint (q48's normalized
    // 64-char head hash), so duplicate-head documents co-assign by
    // construction; the output carries the proof: n_leaky counts
    // fingerprints spanning >1 split and must be 0. Scan-local hashing,
    // one fingerprint-keyed aggregate, one small rollup — at 100 TB the
    // same shape as exact dedup. ----
    QueryDef("q115_leakage_safe_split", leakageSafeSplitOracle) { (s, dir) =>
      val docs = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          conv(substring(md5(
            substring(regexp_replace(lower(col("text")), "\\s+", " "), 1, 64)),
            1, 15), 16, 10).cast(LongType).as("fp"))
        .withColumn("split",
          when(pmod(col("fp"), lit(10)) < 8, "train")
            .when(pmod(col("fp"), lit(10)) === 8, "val")
            .otherwise("test"))
      // Two consumers (rollup + leakage audit): persist (one-scan rule).
      val assigned = docs.persist()
      val leaky = assigned.groupBy(col("fp"))
        .agg(count_distinct(col("split")).as("n_splits"))
        .filter(col("n_splits") > 1)
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_leaky"))
      assigned.groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(leaky))
        .select(col("lang"), col("split"), col("n_docs"), col("n_leaky"))
        .orderBy(col("lang"), col("split"))
    },

    // ---- per-document character entropy (bits/char), the classic
    // low-entropy spam/boilerplate signal: one scan-local pass per row in
    // the native codegen'd graft_char_entropy kernel (counting map + one
    // log2 per distinct codepoint), then a 5-row per-language rollup —
    // map-side partial aggregation, the cheapest possible 100 TB shape. ----
    QueryDef("q104_char_entropy", charEntropyOracle) { (s, dir) =>
      T(s, dir, "documents")
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("lang"), expr("graft_char_entropy(text)").as("h"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("h")), 6).as("avg_entropy"),
          round(min(col("h")), 6).as("min_entropy"),
          round(max(col("h")), 6).as("max_entropy"))
        .orderBy(col("lang"))
    },

    // ---- mixture reweighting: temperature-scaled source sampling
    // (the DoReMi/"alpha-sampling" curation step — upweight small
    // sources, downweight the dominant crawl). alpha = 0.5 so the
    // weight is sqrt(n) — IEEE-exact in both engines, then floored to
    // integer micros so every downstream step (normalize, per-source
    // target, keep-probability, hash draw) is pure int64 arithmetic:
    // bit-identical cross-engine, no pow()-ULP drift. 100 TB shape:
    // the per-source rollup is a map-side partial agg to #sources
    // rows, the weight table broadcasts, and the sample itself is a
    // scan-local salted-hash draw — join-stable, reproducible, and
    // needing no global sort or reservoir. The corpus IS scanned twice
    // (count pass, then draw pass) — deliberate: rates depend on global
    // counts, and at 100 TB two pruned 2-column scans beat caching the
    // corpus between passes. ----
    QueryDef("q116_mix_weights", mixWeightsOracle) { (s, dir) =>
      val docs = T(s, dir, "documents").select(col("source"), col("doc_id"))
      val per = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("w_micro",
          floor(sqrt(col("n_docs").cast(DoubleType)) * 1000000).cast(LongType))
      val tot = per.agg(sum(col("w_micro")).cast(LongType).as("tot_w"))
      // 1-row total broadcast (bnljAllowed); 5000-doc sample budget.
      val plan = per.crossJoin(broadcast(tot))
        .withColumn("target_docs", expr("(5000 * w_micro) DIV tot_w"))
        .withColumn("p_micro",
          least(lit(1000000L), expr("(target_docs * 1000000) DIV n_docs")))
        .select(col("source"), col("n_docs"), col("w_micro"),
          col("target_docs"), col("p_micro"))
      val sampled = docs
        .withColumn("draw",
          conv(substring(md5(concat(lit("mix116_"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
            .cast(LongType) % 1000000)
        .join(broadcast(plan.select(col("source"), col("p_micro"))), Seq("source"))
        .filter(col("draw") < col("p_micro"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
      plan.join(sampled, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("w_micro"),
          col("target_docs"), col("p_micro"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy(col("source"))
    },

    // ---- corpus-overlap matrix: pairwise source-vs-source Jaccard
    // estimated from bottom-k MinHash sketches (the "how much does
    // crawl A overlap crawl B" curation question, answered WITHOUT a
    // doc-level join). Per source, keep the k=64 smallest distinct
    // word-3-gram hashes (partial WindowGroupLimit ships <= k rows per
    // task); the estimator is |sig_a AND sig_b among the k smallest of
    // sig_a UNION sig_b| / k. The only non-equi join enumerates source
    // PAIRS — #sources^2 rows, trivially bounded at any corpus size —
    // while everything touching document data is an equi join. The
    // corpus-heavy step is one distinct over 8-byte (source, hash)
    // pairs; after the k-min cut the whole computation is kilobytes. ----
    QueryDef("q117_source_overlap", sourceOverlapOracle) { (s, dir) =>
      // Per-source bottom-64 DISTINCT hashes via the mergeable KMV
      // aggregate (round 14): the old distinct()->row_number<=64 shape
      // shuffled every (source, hash) pair and its spill behavior made
      // the cache-cold timing swing 2.2x between identical-code runs
      // (VERDICT r13 #1). The sketch aggregate keeps <=64 values per
      // group per map task, so the only corpus-sized work is the scan
      // itself — the shuffle carries one <=520-byte sketch per
      // (task, source). Result set is identical by construction
      // (BottomKParitySpec pins it against the exact distinct+rank
      // formulation on adversarial duplicates).
      // 3 consumers (pair enumeration + both flag joins): persist.
      val sig = T(s, dir, "documents")
        .select(col("source"), explode(expr("graft_shingle_hashes(text)")).as("h"))
        .groupBy(col("source"))
        .agg(expr("graft_bottomk_distinct(h, 64)").as("hs"))
        .select(col("source"), explode(col("hs")).as("h"))
        .persist()
      val srcs = sig.select(col("source")).distinct()
      val prs = srcs.as("x").join(srcs.as("y"), col("x.source") < col("y.source"))
        .select(col("x.source").as("src_a"), col("y.source").as("src_b"))
      val left = prs.join(sig, col("source") === col("src_a"))
        .select(col("src_a"), col("src_b"), col("h"),
          lit(1).as("in_a"), lit(0).as("in_b"))
      val right = prs.join(sig, col("source") === col("src_b"))
        .select(col("src_a"), col("src_b"), col("h"),
          lit(0).as("in_a"), lit(1).as("in_b"))
      val wu = Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))
      left.union(right)
        .groupBy(col("src_a"), col("src_b"), col("h"))
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
        .withColumn("rk", row_number().over(wu)).filter(col("rk") <= 64)
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_union_k"),
          sum(col("in_a") * col("in_b")).cast(LongType).as("n_both"),
          round(sum(col("in_a") * col("in_b")).cast(DoubleType) / count(lit(1)), 6)
            .as("jaccard_est"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // ---- perplexity bucketing: the CCNet curation step — split each
    // language's corpus into head/middle/tail terciles by LM
    // cross-entropy (bucket 1 = most fluent under the corpus's own
    // statistics, bucket 3 = noisiest; CCNet trains on head+middle and
    // drops/reviews tail). Scoring is the SHARED q103 kernel
    // (bigramCePerDoc — one definition, no drift); the tercile split is
    // NTILE over (round(ce,6), doc_id) — rounding makes cross-engine
    // float ties EXACT ties and doc_id then pins them, so bucket
    // boundaries are deterministic in both engines. 100 TB shape: the
    // per-language NTILE is the only global-ish step and production
    // replaces it with approx quantile cutoffs (q90's sketch) broadcast
    // back — the output contract (per-bucket doc counts + ce range) is
    // identical; everything upstream is the q103 co-partitioned join
    // family. Output rows = #langs x 3 at any corpus size. ----
    QueryDef("q122_perplexity_buckets", perplexityBucketsOracle) { (s, dir) =>
      val per = bigramCePerDoc(s, dir)
      val wLang = Window.partitionBy(col("lang"))
        .orderBy(round(col("ce_raw"), 6), col("doc_id"))
      per.withColumn("bucket", ntile(3).over(wLang))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("ce_raw")), 6).as("min_ce"),
          round(max(col("ce_raw")), 6).as("max_ce"),
          round(avg(col("ce_raw")), 6).as("avg_ce"))
        .orderBy(col("lang"), col("bucket"))
    },

    // ---- q140: q122's terciles with the documented production swap
    // made REAL (VERDICT r12 "do this" #4): q122's per-language NTILE
    // sorts each language in ONE partition — the skew magnet at 100 TB
    // (a 60%-English corpus puts 60 TB through one task). Here the
    // cutoffs come from percentile_approx — a mergeable KLL-style
    // sketch aggregated with map-side partials, #langs rows out — and
    // bucket assignment is a broadcast-join + two scalar compares,
    // fully scan-local. Output contract is IDENTICAL to q122
    // (lang, bucket, n_docs, min_ce, max_ce, avg_ce); boundary docs can
    // land one bucket over vs the exact rank split, so the entry is
    // no_oracle and AnalyticsSpec pins per-bucket counts against the
    // exact sibling with a tolerance plus exact totals. PlanAuditSpec
    // asserts NO window/sort over a whole language anywhere in the
    // plan. ----
    QueryDef.noOracle("q140_buckets_approx") { (s, dir) =>
      val per = bigramCePerDoc(s, dir)
        .select(col("doc_id"), col("lang"), round(col("ce_raw"), 6).as("ce_r"),
          col("ce_raw"))
        .persist()
      val cuts = per.groupBy(col("lang"))
        .agg(percentile_approx(col("ce_r"),
          array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000)).as("cs"))
        .select(col("lang"), col("cs").getItem(0).as("c1"), col("cs").getItem(1).as("c2"))
      per.join(broadcast(cuts), "lang")
        .withColumn("bucket",
          lit(1) + when(col("ce_r") > col("c1"), 1).otherwise(0)
                 + when(col("ce_r") > col("c2"), 1).otherwise(0))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("ce_raw")), 6).as("min_ce"),
          round(max(col("ce_raw")), 6).as("max_ce"),
          round(avg(col("ce_raw")), 6).as("avg_ce"))
        .orderBy(col("lang"), col("bucket"))
    },

    // ---- q141: boilerplate-line REMOVAL rewrite — the first registry
    // entry that REWRITES the corpus rather than scoring it (q124
    // profiles boilerplate, q98 detects duplicate lines; this one emits
    // the cleaned documents — the step a real curation pipeline actually
    // ships). Segmentation is q98's LineWords rule (one definition both
    // engines); the boilerplate dictionary = segments appearing in >= 3
    // DISTINCT docs; each doc drops its dictionary segments and the
    // remainder reassembles in order (md5 digest stands in for the full
    // text so the oracle row stays narrow). 100 TB shape: the dictionary
    // is by definition low-cardinality/high-frequency (nav chrome, cookie
    // banners) -> it BROADCASTS and the drop is a map-side anti join;
    // segments of a doc are generated scan-locally; the only corpus
    // shuffle is the doc_id reassembly groupBy — irreducible for a
    // rewrite. In production the df threshold (here 3) caps the dict;
    // segments hash to 8 bytes before shipping (q98's rule). ----
    QueryDef("q141_clean_text", cleanTextOracle) { (s, dir) =>
      val ws = split(lower(col("text")), " ")
      // base feeds the segment explode twice (dict build + rewrite) and
      // the n_segs re-attach: persist, one corpus scan (q85/q88 rule).
      val base = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), ws.as("ws"))
        .withColumn("n_segs", ceil(size(col("ws")) / lit(LineWords.toDouble)).cast(LongType))
        .persist()
      val segs = base
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0L), col("n_segs") - 1)).as("seg_idx"))
        .select(col("doc_id"), col("seg_idx"),
          array_join(
            slice(col("ws"), (col("seg_idx") * LineWords + 1).cast(IntegerType), lit(LineWords)),
            " ").as("seg"))
        .persist()
      val dict = segs.groupBy(col("seg"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 3)
        .select(col("seg"))
      val kept = segs.join(broadcast(dict), Seq("seg"), "left_anti")
      val rebuilt = kept.groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_kept"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
              x => x.getField("seg")),
            " ")).as("cleaned_md5"))
      base.select(col("doc_id"), col("n_segs"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_segs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
          coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- q142: temperature-smoothed mixture weights — the mT5/XLM-R
    // pretraining mixing rule (w_l ∝ p_l^alpha, alpha=0.3: upsample the
    // tail without drowning the head). q116 reweights to a fixed budget
    // and q133 enforces per-domain quotas; this computes the SMOOTHED
    // multinomial itself. Exactness: pow() is one IEEE double op on
    // identical inputs; its result converts to integer MICROS
    // immediately (round*1e6 -> int64), so the sum and the final
    // integer divisions are bit-exact cross-engine (the q131 rule —
    // no float accumulation ever crosses an engine boundary). 100 TB
    // shape: one #langs-row aggregate off a metadata-only scan; the
    // two corpus-independent 1-row totals ride broadcast cross joins
    // (q133's audited pattern). ----
    QueryDef("q142_temperature_mix", temperatureMixOracle) { (s, dir) =>
      val counts = T(s, dir, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).as("n_total"))
      val sm = counts.crossJoin(broadcast(tot))
        .withColumn("weight_micro",
          round(pow(col("n_docs").cast(DoubleType) / col("n_total"), 0.3) * 1e6)
            .cast(LongType))
      val sw = sm.agg(sum(col("weight_micro")).as("sum_wm"))
      sm.crossJoin(broadcast(sw))
        .select(col("lang"), col("n_docs"),
          expr("(n_docs * 1000000L) DIV n_total").as("share_micro"),
          col("weight_micro"),
          expr(s"($MixBudget * weight_micro) DIV sum_wm").as("target_docs"))
        .orderBy(col("lang"))
    },

    // ---- contamination scoring: the GPT-3/PaLM n-gram-overlap
    // decontamination report. q57/q79 answer "is this exact document in
    // the benchmark?"; this answers the harder production question "what
    // FRACTION of each training doc's word-3-grams appears anywhere in
    // the held-out set?" — catching partial/embedded contamination exact
    // match misses. Held-out set = doc_id % 20 = 0 (5%); per train doc:
    // total 3-grams, 3-grams hitting the held-out gram set (left-semi),
    // frac = hit/total (single int/int division — IEEE-exact in both
    // engines), then the top-5 most-contaminated docs per language via
    // the partial-WindowGroupLimit cap. 100 TB shape: real benchmarks
    // are tiny, so the distinct (lang, hash) gram set broadcasts and the
    // probe is map-side (the q57/q79 decontamination shape lifted from
    // doc hashes to n-grams); the gram frame feeds the held-out build
    // AND the train probe -> persisted (one corpus scan); per-doc
    // rollups are keyed on doc_id; output rows = 5 x #langs always. ----
    QueryDef("q123_contamination_score", contaminationScoreOracle) { (s, dir) =>
      // Gram hashes come from the one-pass native kernel (q117's
      // graft_shingle_hashes — SketchParitySpec pins it against the
      // split + md5 + conv SQL formulation the oracle still writes);
      // explode drops the null arrays of <3-token docs, the same
      // population the SQL filter kept.
      val grams = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          explode(expr("graft_shingle_hashes(text)")).as("h"))
        .persist()
      val benchSet = grams.filter(col("doc_id") % 20 === 0)
        .select(col("lang"), col("h")).distinct()
      val train = grams.filter(col("doc_id") % 20 =!= 0)
      val tot = train.groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_grams"))
      val hit = train.join(broadcast(benchSet), Seq("lang", "h"), "left_semi")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_hit"))
      val wLang = Window.partitionBy(col("lang"))
        .orderBy(col("frac").desc, col("doc_id"))
      tot.join(hit, Seq("doc_id", "lang"), "left")
        .select(col("doc_id"), col("lang"), col("n_grams"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / col("n_grams"), 6)
            .as("frac"))
        .withColumn("rk", row_number().over(wLang))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("doc_id"),
          col("n_grams"), col("n_hit"), col("frac"))
        .orderBy(col("lang"), col("rk"))
    },

    // ---- boilerplate-line profile (the C4/RefinedWeb boilerplate-removal
    // signal, next to q98's corpus-global line dedup): a line is
    // boilerplate when it repeats across >= BoilerMinDocs distinct
    // documents of the SAME source — headers/footers/nav chrome repeat
    // within a site, not across the corpus, so the key is (source, h)
    // where q98's is h alone. Reported per source: what stripping would
    // do (lines, distinct lines, boilerplate lines, affected docs,
    // removed instances) — all integer counts, hash-exact. 100 TB shape:
    // segmentation is the scan-local q98 5-word rule; every agg and the
    // flag probe are keyed on (source, h) — co-partitioned, no
    // broadcast of corpus-sized data; output is #sources rows. segs
    // feeds the doc-frequency build, the per-source rollup, and the
    // removal probe -> persisted (one corpus scan). ----
    QueryDef("q124_boilerplate_profile", boilerplateOracle) { (s, dir) =>
      // Line hashes come from the one-pass native kernel (q98's
      // segmentation; SketchParitySpec pins it against the explode +
      // slice + md5 SQL formulation the oracle still writes).
      val segs = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          explode(expr("graft_line_hashes(text)")).as("h"))
        .persist()
      val boiler = segs.select(col("source"), col("h"), col("doc_id")).distinct()
        .groupBy(col("source"), col("h"))
        .agg(count(lit(1)).as("n_docs_line"))
        .filter(col("n_docs_line") >= BoilerMinDocs)
        .select(col("source"), col("h"))
        .persist() // feeds the count rollup AND the removal probe
      val perSource = segs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_lines"),
          countDistinct(col("h")).as("n_distinct_lines"),
          countDistinct(col("doc_id")).as("n_docs"))
      val removed = segs.join(boiler, Seq("source", "h"), "left_semi")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_removed"),
          countDistinct(col("doc_id")).as("n_affected_docs"))
      val boilCnt = boiler.groupBy(col("source")).agg(count(lit(1)).as("n_boiler_lines"))
      perSource
        .join(boilCnt, Seq("source"), "left")
        .join(removed, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_lines"), col("n_distinct_lines"),
          coalesce(col("n_boiler_lines"), lit(0L)).as("n_boiler_lines"),
          coalesce(col("n_affected_docs"), lit(0L)).as("n_affected_docs"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"))
        .orderBy(col("source"))
    },

    // ---- q126: n-gram language identification (the Cavnar–Trenkle
    // char-trigram profile method — the lang-ID step every multilingual
    // curation pipeline runs before per-language filtering). Train: the
    // top-100 most frequent character trigrams per language over the
    // doc_id%5!=0 split (count DESC, trigram ASC rank — byte-order ties
    // identical in both engines). Classify: each held-out doc scores
    // each language by how many of its trigram OCCURRENCES land in that
    // language's profile; argmax wins (score DESC, language ASC). Output
    // is the confusion matrix — all-integer, hash-exact. NOTE the
    // fixture's `lang` labels are independent of its synthetic text, so
    // the matrix here is the null baseline; AnalyticsSpec proves the
    // classifier on a corpus whose scripts actually differ. 100 TB
    // shape: trigram extraction is scan-local (sequence/transform/
    // explode all codegen); the profile is <=100 x #langs rows ->
    // broadcast probe; scoring and argmax are both keyed on doc_id (one
    // shuffle, window co-partitioned with the groupBy); output rows <=
    // (#langs+1) x #langs at any corpus size. grams feeds the profile
    // build AND the held-out probe -> persisted (one corpus scan). ----
    QueryDef("q126_lang_id", langIdOracle) { (s, dir) =>
      // Spread loader (round 21): the trigram kernel + the grams cache
      // fill dominated as TWO sequential single-task ~1 s stages on the
      // 1-row-group fixture scan; spreading the scan parallelizes both.
      val docs = Tables.loadSpread(s, dir, "documents")
        .filter(col("text").isNotNull && length(col("text")) >= 3)
        .select(col("doc_id"), col("lang"), col("text"))
      // Trigram hashes from the one-pass native kernel (round 13 —
      // SketchParitySpec pins it against the sequence-explode +
      // substring + md5 SQL formulation the oracle still writes): the
      // corpus-heavy step sheds the per-position substring/UTF8String
      // allocation tree, and profile/probe keys shuffle as 8-byte longs
      // instead of 3-char strings. Ranking ties break on the hash (both
      // engines identically).
      val grams = docs.select(col("doc_id"), col("lang"),
          explode(expr("graft_trigram_hashes(text)")).as("tg"))
        .persist()
      val wProf = Window.partitionBy(col("plang"))
        .orderBy(col("cnt").desc, col("tg"))
      val prof = grams.filter(col("doc_id") % 5 =!= 0)
        .groupBy(col("lang").as("plang"), col("tg"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(wProf))
        .filter(col("rk") <= LangIdProfileK)
        .select(col("plang"), col("tg"))
      val wDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("plang"))
      val pred = grams.filter(col("doc_id") % 5 === 0)
        .join(broadcast(prof), "tg")
        .groupBy(col("doc_id"), col("plang"))
        .agg(count(lit(1)).as("score"))
        .withColumn("rk", row_number().over(wDoc))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("plang"))
      docs.filter(col("doc_id") % 5 === 0)
        .join(pred, Seq("doc_id"), "left")
        .groupBy(col("lang").as("actual_lang"),
          coalesce(col("plang"), lit("und")).as("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("actual_lang"), col("pred_lang"))
    },

    // ---- q149: the curation funnel END TO END — the whole pipeline the
    // individual operators exist FOR, as ONE oracle-paired query: pool
    // (non-benchmark docs) → C4 quality rules (q47's four, verbatim) →
    // fingerprint dedup keep-first on q48's normalized-head hash (the
    // crawl-dedup heuristic) → decontamination against the benchmark split's shingle
    // set (q57/q123's broadcast semi-join shape, strictest any-shared-
    // gram rule). Output: the survivor funnel (stage, n_docs, n_tokens)
    // — the per-stage accounting every curation run reports. Shingles
    // come from the pinned graft_shingle_hashes kernel; the oracle
    // recomputes them with the long-form md5 SQL, so the gate proves the
    // four chained stages agree cross-engine, not just each stage alone.
    // 100 TB shape: quality rules are scan-local; the dedup is ONE
    // shuffle on an 8-byte-ish hash; the benchmark gram set broadcasts
    // (benchmarks are tiny by definition); each stage's frame persists
    // once and feeds exactly (next stage + its funnel row). ----
    QueryDef("q149_curation_funnel", curationFunnelOracle) { (s, dir) =>
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          split(lower(col("text")), " ").as("ws"))
      val pool = d.filter(col("doc_id") % 20 =!= 0)
        .withColumn("n_tok", size(col("ws")))
        .persist()
      val keepq = pool
        .withColumn("mtl",
          (col("n_chars") - (col("n_tok") - 1)).cast(DoubleType) / col("n_tok"))
        .withColumn("n_stop",
          size(filter(col("ws"), w => w === "the" || w === "a" || w === "of")))
        .withColumn("dr",
          size(array_distinct(col("ws"))).cast(DoubleType) / col("n_tok"))
        .filter(col("n_tok").between(10, 1000) &&
          col("mtl") >= 2 && col("mtl") <= 12 &&
          col("n_stop") >= 1 && col("dr") >= 0.3)
        .select(col("doc_id"), col("lang"), col("text"), col("ws"), col("n_tok"))
        .persist()
      // Dedup key: q48's normalized-head fingerprint (whitespace-collapsed
      // lower text, first 64 chars) — the crawl-dedup heuristic; the
      // fixture has REAL head collisions (q48's 99 clusters), so this
      // stage demonstrably drops, where byte-exact dedup would be
      // vacuous on this corpus (0 exact dups).
      val wFirst = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      val dedup = keepq
        .withColumn("h",
          md5(substring(regexp_replace(lower(col("text")), "\\s+", " "), 1, 64)))
        .withColumn("rn", row_number().over(wFirst))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("text"), col("n_tok"))
        .persist()
      val bench = d.filter(col("doc_id") % 20 === 0)
        .select(col("lang"), explode(expr("graft_shingle_hashes(text)")).as("g"))
        .distinct()
      val contaminated = dedup
        .select(col("doc_id"), col("lang"),
          explode(expr("graft_shingle_hashes(text)")).as("g"))
        .join(broadcast(bench), Seq("lang", "g"), "left_semi")
        .select(col("doc_id")).distinct()
      val cleanDocs = dedup.join(contaminated, Seq("doc_id"), "left_anti")
      def stage(name: String, df: DataFrame, tok: Column): DataFrame =
        df.agg(count(lit(1)).as("n_docs"), sum(tok).cast(LongType).as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      stage("0_pool", pool, col("n_tok"))
        .unionByName(stage("1_quality", keepq, col("n_tok")))
        .unionByName(stage("2_fingerprint_dedup", dedup, col("n_tok")))
        .unionByName(stage("3_decontaminated", cleanDocs, col("n_tok")))
        .orderBy(col("stage"))
    },

    // ---- q155: DSIR-style importance resampling (round 14; Data
    // Selection via Importance Resampling, Xie et al. 2023 — public
    // method): pick the source documents that look most like a TARGET
    // domain by hashed-feature importance weights. Features are hashed
    // unigrams (the shared 60-bit md5 rule, mod 1024 buckets); target =
    // the doc_id%20 benchmark split (q149's convention), source = the
    // rest. Per-bucket log-ratio r(b) = ln((ct+1)(Ns+1024) /
    // (cs+1)(Nt+1024)) — add-1 smoothing over the bucket space; per-doc
    // importance = Σ_b count_b · r(b). Cross-engine exactness is the
    // q96 trick: r(b) is rounded ONCE to integer micro-units (the ln of
    // a ratio of exact integer products, so both engines divide the
    // same doubles), and the per-doc sum is order-free integer
    // arithmetic. Output: top-50 source docs by importance. 100 TB
    // shape: feature hashing is scan-local; the model is TWO 1024-row
    // bucket aggregates + two 1-row totals (kilobytes, broadcast —
    // DSIR's whole point is that the importance model is tiny); scoring
    // is a broadcast join + one doc-keyed partial agg; the final cut is
    // a TakeOrdered heap, never a global sort. ----
    QueryDef("q155_dsir_resample", dsirOracle) { (s, dir) =>
      val words = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          explode(wordFeatCol).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("doc_id"), col("lang"),
          pmod(conv(substring(md5(col("w")), 1, 15), 16, 10).cast(LongType),
            lit(1024L)).as("b"))
        .persist() // 4 consumers: target counts, source counts, totals, scoring
      val isTgt = col("doc_id") % 20 === 0
      val tgt = words.filter(isTgt).groupBy(col("b")).agg(count(lit(1)).as("ct"))
      val srcw = words.filter(!isTgt)
      val scnt = srcw.groupBy(col("b")).agg(count(lit(1)).as("cs"))
      val totT = words.filter(isTgt).agg(count(lit(1)).as("nt"))
      val totS = srcw.agg(count(lit(1)).as("ns"))
      val ratio = scnt.join(tgt, Seq("b"), "left")
        .na.fill(0L, Seq("ct"))
        .crossJoin(broadcast(totT)).crossJoin(broadcast(totS))
        .select(col("b"), expr(
          "cast(round(ln(((ct + 1) * (ns + 1024)) / ((cs + 1) * (nt + 1024))) " +
            "* 1000000, 0) as bigint)").as("r_micro"))
      val scores = srcw
        .groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("cnt"))
        .join(broadcast(ratio), Seq("b"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("cnt") * col("r_micro")).as("score_micro"))
      // TakeOrdered cut FIRST (per-partition heaps), then rank the
      // 50-row frame — the global window never sees corpus rows.
      val top = scores.orderBy(col("score_micro").desc, col("doc_id")).limit(50)
      val wTop = Window.orderBy(col("score_micro").desc, col("doc_id"))
      top.withColumn("rank", row_number().over(wTop))
        .select(col("rank"), col("doc_id"), col("lang"), col("score_micro"))
        .orderBy(col("rank"))
    },

    // ---- q157 (round 14): LEARNED document classifier — multinomial
    // Naive Bayes trained on the corpus itself, the fastText-shaped
    // filter every production curation stack runs (quality/domain
    // classifiers a la CCNet/C4; q126's lang-ID is a fixed heuristic,
    // this one LEARNS its class profiles from labeled docs). Features
    // are hashed unigrams (shared 60-bit md5 rule mod 4096 — the
    // hashing trick caps the model at #classes x 4096 weights no matter
    // how the vocabulary grows), train = doc_id%5 != 0, eval = the %5
    // holdout (q145's by-doc split). Per-(class, bucket) weight =
    // ln((c+1)/(n+4096)) add-1 smoothed, class prior = ln(d_k/D), both
    // rounded ONCE to integer micro-units (the q96 rule: ln of a ratio
    // of exact integers); per-doc score = prior + order-free integer
    // sum cnt_b * w(k,b) with the add-1 MISS weight for unseen buckets;
    // argmax via max(struct(score, class)) — ties to the
    // lexicographically larger class, mirrored in the oracle's window.
    // Output: the eval confusion matrix. HONEST on this fixture (the
    // q143/q145 rule): the synthetic lang labels are independent of the
    // text — q126's Cavnar–Trenkle scores chance (~20%) on the same
    // split — so with near-identical class likelihoods the Bayes
    // decision IS the prior and NB collapses to the majority class;
    // the gate grades the mechanics (exact cross-engine weight/argmax
    // agreement), the number grades the corpus. 100 TB shape: the model is TWO
    // aggregates capped at #classes x 4096 rows (kilobytes, broadcast);
    // scoring is scan-local hashing + one (doc, bucket) partial agg +
    // the #classes-row broadcast fan-out + one doc-keyed agg; output
    // <= #classes^2 rows at any corpus size. ----
    QueryDef("q157_nb_classifier", nbClassifierOracle) { (s, dir) =>
      val d = T(s, dir, "documents")
      val isEval = col("doc_id") % 5 === 0
      val words = d.filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          explode(wordFeatCol).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("doc_id"), col("lang"),
          pmod(conv(substring(md5(col("w")), 1, 15), 16, 10).cast(LongType),
            lit(4096L)).as("b"))
      val train = words.filter(!isEval)
      val cnt = train.groupBy(col("lang").as("k"), col("b"))
        .agg(count(lit(1)).as("c"))
      val tot = train.groupBy(col("lang").as("k")).agg(count(lit(1)).as("n"))
      val trainDocs = d.filter(!isEval)
      val dTot = trainDocs.agg(count(lit(1)).as("dd"))
      val prior = trainDocs.groupBy(col("lang").as("k"))
        .agg(count(lit(1)).as("dk"))
        .crossJoin(broadcast(dTot))
        .select(col("k"),
          expr("cast(round(ln(dk / cast(dd as double)) * 1000000, 0) as bigint)")
            .as("prior_micro"))
      val stats = tot.join(broadcast(prior), Seq("k"))
        .select(col("k"), col("prior_micro"),
          expr("cast(round(ln(1 / cast(n + 4096 as double)) * 1000000, 0) as bigint)")
            .as("miss_micro"))
      val wts = cnt.join(broadcast(tot), Seq("k"))
        .select(col("k"), col("b"),
          expr("cast(round(ln((c + 1) / cast(n + 4096 as double)) * 1000000, 0) as bigint)")
            .as("w_micro"))
      val evalCnt = words.filter(isEval)
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cb"))
      val sums = evalCnt.crossJoin(broadcast(stats))
        .join(broadcast(wts), Seq("k", "b"), "left")
        .groupBy(col("doc_id"), col("k"))
        .agg(sum(col("cb") * coalesce(col("w_micro"), col("miss_micro")))
          .cast(LongType).as("s_micro"))
      val evalDocs = d.filter(isEval)
        .select(col("doc_id"), col("lang").as("true_lang"))
      val scored = evalDocs
        .crossJoin(broadcast(stats.select(col("k"), col("prior_micro"))))
        .join(sums.hint("merge"), Seq("doc_id", "k"), "left")
        .select(col("doc_id"), col("true_lang"), col("k"),
          (col("prior_micro") + coalesce(col("s_micro"), lit(0L))).as("score"))
      scored.groupBy(col("doc_id"), col("true_lang"))
        .agg(max(struct(col("score"), col("k"))).as("m"))
        .select(col("true_lang"), col("m.k").as("pred_lang"))
        .groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("true_lang"), col("pred_lang"))
    },

    // ---- q158 (round 14): c-TF-IDF cluster labeling (the BERTopic
    // formulation, public) — name each document cluster by its most
    // DISTINGUISHING terms, the step that turns q93/q100's anonymous
    // cluster ids into an inspectable corpus map. Classes here are the
    // lang clusters; per (class, term): score = tf * ln(1 + A/f) where
    // A = total_tokens/#classes and f = corpus term frequency — common
    // terms (high f) shrink toward ln(1), class-concentrated terms
    // keep their mass. Integer-exact cross-engine: ln(1 + A/f) =
    // ln((nc*f + total)/(nc*f)) is the ln of a ratio of exact integers,
    // rounded ONCE to micro-units, THEN multiplied by the integer tf.
    // Top-5 per class via rank <= 5 — WindowGroupLimit caps the sort
    // per map task. 100 TB shape: (class, term) and term aggs are one
    // co-partitioned join on the term key; the two corpus totals ride
    // an audited 1-row broadcast; the per-class window is group-limited
    // (never a global sort); output = 5 x #classes rows. ----
    QueryDef("q158_ctfidf_labels", ctfidfOracle) { (s, dir) =>
      val words = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"),
          explode(wordFeatCol).as("w"))
        .filter(length(col("w")) > 0)
      val tf = words.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("tf"))
      val f = words.groupBy(col("w")).agg(count(lit(1)).as("f"))
      val totals = words.agg(count(lit(1)).as("total"),
        countDistinct(col("lang")).as("nc"))
      // merge hint: the term-keyed join is vocab x vocab — co-partitioned
      // sort-merge at any scale (pinning it also keeps the 1x/10x plan
      // shapes identical for the scale-stress comparison)
      val weighted = tf.join(f.hint("merge"), Seq("w"))
        .crossJoin(broadcast(totals))
        .select(col("lang"), col("w"), col("tf"),
          (expr("cast(round(ln((nc * f + total) / cast(nc * f as double)) * 1000000, 0) as bigint)")
            * col("tf")).as("score_micro"))
      val win = Window.partitionBy(col("lang"))
        .orderBy(col("score_micro").desc, col("w"))
      weighted.withColumn("rank", row_number().over(win))
        .filter(col("rank") <= 5)
        .select(col("lang"), col("rank"), col("w").as("term"), col("tf"),
          col("score_micro"))
        .orderBy(col("lang"), col("rank"))
    },

    // ---- q159 (round 14): deterministic epoch shuffle — the
    // reproducible global permutation a training run consumes (data
    // ORDER matters to an LLM run; re-shuffling per epoch must be
    // cluster-deterministic and seekable, not a sort of 100 TB). The
    // permutation is pure arithmetic: hkey = md5('e1:' || doc_id) (the
    // epoch salt re-keys every epoch), shard = hkey % 64, position =
    // rank of hkey within shard — a global shuffle materialized as 64
    // independent shard streams, no global sort anywhere. Output pins
    // the ENTIRE permutation cross-engine: per shard, the doc count,
    // the first doc in shard order, and the order-sensitive checksum
    // sum(pos * doc_id). 100 TB shape: hashing is scan-local, the only
    // exchange is the shard hash partition, the within-shard window
    // sorts corpus/#shards rows per task and #shards is the knob a
    // 1000-executor run raises; readers seek any shard independently
    // (the curriculum/resume property). ----
    QueryDef("q159_epoch_shuffle", epochShuffleOracle) { (s, dir) =>
      val assigned = T(s, dir, "documents")
        .select(col("doc_id"),
          expr("cast(conv(substring(md5(concat('e1:', doc_id)), 1, 15), 16, 10) as bigint)")
            .as("hkey"))
        .withColumn("shard", pmod(col("hkey"), lit(64L)))
      val win = Window.partitionBy(col("shard"))
        .orderBy(col("hkey"), col("doc_id"))
      assigned.withColumn("pos", row_number().over(win))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          max(when(col("pos") === 1, col("doc_id"))).as("first_doc"),
          sum(col("pos") * col("doc_id")).cast(LongType).as("order_checksum"))
        .orderBy(col("shard"))
    },

    // ---- q169 (round 14): greedy QUOTA-FILL selection — the mixture
    // EXECUTION step: q116/q133/q142 compute budgets and keep rates;
    // something still has to pick the CONCRETE documents. Per language,
    // rank docs by quality (distinct-token ratio in integer micros —
    // one rounded division, the q47 signal) with doc_id tie-break, and
    // take the greedy prefix until the language's token quota (40% of
    // its corpus tokens, pure integer DIV) is crossed — the first doc
    // to cross is INCLUDED (prefix rule: selected iff running sum
    // BEFORE it is under quota), so both engines cut at the same row.
    // Output pins the selected SET, not just counts: an order-free
    // integer membership checksum (md5-60bit of doc_id mod 1e9+7,
    // summed). 100 TB shape: scoring is scan-local; quotas are a
    // #langs-row broadcast; the running sum is a LANG-partitioned
    // window (the q36 packing shape — production shards the stream
    // (lang, day) to bound partitions); the report is #langs rows. ----
    QueryDef(
      "q169_quota_fill",
      """WITH d AS (
        |  SELECT doc_id, lang, len(string_split(lower(text), ' ')) AS n_tok,
        |    CAST(round(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
        |         / len(string_split(lower(text), ' ')) * 1000000, 0) AS BIGINT) AS score_micro
        |  FROM documents WHERE text IS NOT NULL),
        |q AS (
        |  SELECT lang, CAST(SUM(n_tok) AS BIGINT) * 40 // 100 AS quota_tokens
        |  FROM d GROUP BY lang),
        |r AS (
        |  SELECT d.doc_id, d.lang, d.n_tok, q.quota_tokens,
        |    SUM(d.n_tok) OVER (PARTITION BY d.lang
        |      ORDER BY d.score_micro DESC, d.doc_id
        |      ROWS UNBOUNDED PRECEDING) - d.n_tok AS cum_before
        |  FROM d JOIN q USING (lang))
        |SELECT lang, COUNT(*) AS n_selected,
        |  CAST(SUM(n_tok) AS BIGINT) AS tokens_selected,
        |  MIN(quota_tokens) AS quota_tokens,
        |  CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |       % 1000000007) AS BIGINT) AS member_checksum
        |FROM r WHERE cum_before < quota_tokens
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("ws", split(lower(col("text")), " "))
        .withColumn("n_tok", size(col("ws")))
        .withColumn("score_micro",
          expr("cast(round(cast(size(array_distinct(ws)) as double) / size(ws) * 1000000, 0) as bigint)"))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("score_micro"))
      val quota = d.groupBy(col("lang"))
        .agg(expr("cast(sum(n_tok) as bigint) * 40 DIV 100").as("quota_tokens"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("score_micro").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.join(broadcast(quota), Seq("lang"))
        .withColumn("cum_before", sum(col("n_tok")).over(w) - col("n_tok"))
        .filter(col("cum_before") < col("quota_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_selected"),
          sum(col("n_tok")).cast(LongType).as("tokens_selected"),
          min(col("quota_tokens")).as("quota_tokens"),
          sum(pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast(LongType), lit(1000000007L))).cast(LongType).as("member_checksum"))
        .orderBy(col("lang"))
    },

    // ---- q168 (round 14): quality gate with OBSERVED in-flight
    // metrics — Spark's Observation API is the zero-cost ops layer a
    // production gate needs: the audit counters (rows in, null-text,
    // rule failures, rows kept) ride the SAME scan as the filter
    // itself, computed by codegen'd accumulators at the exact point
    // the plan evaluates the rules — no second pass, no separate audit
    // query that could see different data. The gated OUTPUT (kept docs
    // per lang) is hash-checked by the oracle; ObserveGateSpec asserts
    // the in-flight counters equal independently recomputed values.
    // 100 TB shape: observe() adds one CollectMetrics node over the
    // scan — accumulator traffic only, the filter plan is unchanged;
    // the report is a #langs-row aggregate. ----
    QueryDef(
      "q168_observe_gate",
      """WITH d AS (
        |  SELECT lang, n_chars, string_split(lower(text), ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |m AS (
        |  SELECT lang, len(ws) AS n_tok,
        |    CAST(n_chars - (len(ws) - 1) AS DOUBLE) / len(ws) AS mtl,
        |    len(list_filter(ws, x -> x = 'the' OR x = 'a' OR x = 'of')) AS n_stop,
        |    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dr
        |  FROM d)
        |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM m
        |WHERE n_tok BETWEEN 10 AND 1000 AND mtl >= 2 AND mtl <= 12
        |  AND n_stop >= 1 AND dr >= 0.3
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      observedQualityGate(s, dir)._1
    },

    // ---- q167 (round 14): Unicode NFC canonicalization audit — the
    // multilingual preprocessing step before any hashing/dedup/counting
    // op is trustworthy ("é" composed and "e"+combining-acute must
    // dedup, hash, and count identically; mC4-style pipelines normalize
    // first). graft_nfc is a codegen'd Catalyst expression over the
    // JDK's UAX#15 implementation, oracle-paired against DuckDB's
    // nfc_normalize (same standard; agreement spot-validated on Hangul
    // jamo, combining-mark ordering, compatibility chars). Output: per
    // lang, docs needing normalization + an order-free integer content
    // checksum of the NORMALIZED text (md5-60bit mod 1e9+7, summed) —
    // the checksum pins every normalized byte cross-engine, so the
    // entry stays meaningful on this all-ASCII fixture (identity must
    // agree too) and UnicodeNormSpec carries the real-unicode pins.
    // 100 TB shape: normalization is scan-local with an isNormalized
    // fast path (no allocation on ASCII); one #langs-row aggregate. ----
    QueryDef(
      "q167_unicode_normalize",
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  CAST(SUM(('0x' || substr(md5(nfc_normalize(text)), 1, 15))::BIGINT
        |           % 1000000007) AS BIGINT) AS content_checksum
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), col("text"), expr("graft_nfc(text)").as("norm"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("norm") =!= col("text"), 1).otherwise(0))
            .cast(LongType).as("n_changed"),
          sum(pmod(conv(substring(md5(col("norm")), 1, 15), 16, 10).cast(LongType),
            lit(1000000007L))).cast(LongType).as("content_checksum"))
        .orderBy(col("lang"))
    },

    // ---- q166 (round 14): n-gram NOVELTY score — the memorization
    // check run on model OUTPUTS (Carlini et al.'s membership
    // methodology, public): what fraction of a generation's word
    // 5-grams already exist verbatim in the training corpus? High
    // overlap = regurgitation; it is decontamination's dual (q123 asks
    // "is my TRAIN set polluted by eval", this asks "is my OUTPUT a
    // copy of train"). The %20 split stands in for generations; grams
    // are 5-word shingles under the shared 60-bit rule; per-doc
    // novelty_micro = 1e6 - copied*1e6 DIV n_grams, rolled up to a
    // per-lang mean (sum of integer per-doc scores DIV n_docs — no
    // float accumulation). 100 TB shape: the TRAIN gram set is the big
    // side — the probe flips q123's broadcast (outputs are small, the
    // corpus is not): output grams semi-probe the train set via a
    // merge-hinted co-partitioned join on the gram key; per-doc and
    // per-lang rollups are keyed partial aggs. ----
    QueryDef(
      "q166_novelty_memorization",
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |grams AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]), 1, 15))::BIGINT AS g
        |  FROM d, unnest(generate_series(1, len(ws) - 4)) AS u(i)
        |  WHERE len(ws) >= 5),
        |train AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 <> 0),
        |outg AS (SELECT doc_id, lang, g FROM grams WHERE doc_id % 20 = 0),
        |per AS (
        |  SELECT o.doc_id, o.lang, COUNT(*) AS n_grams,
        |    CAST(SUM(CASE WHEN t.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS copied
        |  FROM outg o LEFT JOIN train t USING (g)
        |  GROUP BY o.doc_id, o.lang),
        |scored AS (
        |  SELECT doc_id, lang,
        |    1000000 - (copied * 1000000) // n_grams AS novelty_micro
        |  FROM per)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(novelty_micro) // COUNT(*) AS BIGINT) AS mean_novelty_micro,
        |  CAST(MIN(novelty_micro) AS BIGINT) AS min_novelty_micro
        |FROM scored GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val d = Tables.loadSpread(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), split(lower(col("text")), " ").as("ws"))
        .filter(size(col("ws")) >= 5)
      val grams = d.select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(ws) - 4), i -> " +
            "cast(conv(substring(md5(concat_ws(' ', element_at(ws, i), " +
            "element_at(ws, i + 1), element_at(ws, i + 2), element_at(ws, i + 3), " +
            "element_at(ws, i + 4))), 1, 15), 16, 10) as bigint))")).as("g"))
      val isOut = col("doc_id") % 20 === 0
      val train = grams.filter(!isOut).select(col("g")).distinct()
      val per = grams.filter(isOut)
        // merge hint: at scale the TRAIN gram set is the big side — the
        // co-partitioned sort-merge join on the gram key is the honest
        // shape (and pins the 1x/10x plan for the scale-stress compare)
        .join(train.hint("merge").withColumn("hit", lit(1)), Seq("g"), "left")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0))).cast(LongType).as("copied"))
      per
        .select(col("doc_id"), col("lang"),
          (lit(1000000L) - expr("(copied * 1000000) DIV n_grams")).as("novelty_micro"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("cast(sum(novelty_micro) DIV count(1) as bigint)").as("mean_novelty_micro"),
          min(col("novelty_micro")).cast(LongType).as("min_novelty_micro"))
        .orderBy(col("lang"))
    },

    // ---- q164 (round 14): decontamination by SPAN EXCISION — the
    // surgical alternative to q57's drop-the-document: production
    // pipelines often keep a contaminated document and cut only the
    // overlapping benchmark text (a doc quoting one benchmark snippet
    // is still 99% good training data). Benchmark word-3-gram set
    // (lang, hash) from the %20 split (q149's convention, the
    // graft_shingle_hashes kernel); every train-doc gram position
    // whose hash is in the set covers word positions i..i+2; the doc
    // is rebuilt from the uncovered words (q141's ordered-reassembly
    // digest) with full accounting (n_words/n_kept/n_cut). Cross-
    // engine: the rebuilt text is pinned by md5 digest, not length —
    // any off-by-one in span arithmetic hash-fails. 100 TB shape:
    // gram/word explodes are scan-local (positions ride posexplode,
    // no window); the benchmark set broadcasts (static, or the q149
    // stored-bucketed layout); coverage is a broadcast semi join +
    // distinct on (doc, pos) — keyed by doc, never corpus-global; the
    // one reassembly shuffle is the rewrite's irreducible doc-keyed
    // groupBy (q141's bound). ----
    QueryDef("q164_decontam_rewrite", decontamRewriteOracle) { (s, dir) =>
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), col("text"),
          split(lower(col("text")), " ").as("ws"))
        .persist() // feeds bench grams, train grams, words, output spine
      val isBench = col("doc_id") % 20 === 0
      val bench = d.filter(isBench)
        .select(col("lang"), explode(expr("graft_shingle_hashes(text)")).as("h"))
        .distinct()
      val train = d.filter(!isBench)
      val hits = train
        .select(col("doc_id"), col("lang"),
          posexplode(expr("graft_shingle_hashes(text)")).as(Seq("gi", "h")))
        .join(broadcast(bench), Seq("lang", "h"), "left_semi")
      val covered = hits
        .select(col("doc_id"),
          explode(array(lit(0), lit(1), lit(2))).as("off"),
          (col("gi") + 1).as("i"))
        .select(col("doc_id"), (col("i") + col("off")).as("pos"))
        .distinct()
      val words = train
        .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "w")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("w"))
      val kept = words.join(covered, Seq("doc_id", "pos"), "left_anti")
      val reb = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("w")))),
              x => x.getField("w")),
            " ")).as("clean_md5"))
      train.select(col("doc_id"), size(col("ws")).cast(LongType).as("n_words"))
        .join(reb, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
          coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- q174 (round 15): HTML/markup -> text extraction — the step
    // BEFORE every text operator on real web crawl (C4/RefinedWeb start
    // from fetched markup; the fixture is already-clean text, so the
    // markup is derived deterministically around it with the same SQL
    // construction in both engines, branching on doc_id to exercise
    // script blocks with embedded '<', style blocks, unclosed tags,
    // unterminated script opens, and the pass-order-pinning interleave
    // '<style>x<script>y</style>z</script>w'). Extraction is
    // `graft_html_text`, a codegen kernel of hand-rolled linear scans
    // whose semantics are DEFINED as the oracle's regex chain
    // (script/style excision -> tag strip -> entity chain -> whitespace
    // collapse; Sketches.htmlText documents why pass order is
    // load-bearing); the title rides the same regexp_extract in both
    // engines. Output pins the extraction byte-for-byte via md5. 100 TB
    // shape: perfectly scan-local (one kernel call per page, no regex
    // engine, no shuffle at all until the final ORDER BY display frame);
    // SketchParitySpec pins kernel == regex chain on adversarial
    // fragments beyond the derived corpus. ----
    QueryDef("q174_html_extract", htmlExtractOracle) { (s, dir) =>
      T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("html", expr(htmlCaseSql))
        .select(col("doc_id"),
          regexp_extract(col("html"), "(?is)<title>(.*?)</title>", 1).as("title"),
          expr("graft_html_text(html)").as("body"))
        .select(col("doc_id"), col("title"),
          length(col("body")).as("n_chars"), md5(col("body")).as("body_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- q198 (round 15): COLLOCATION MINING (pointwise mutual
    // information) — the corpus-linguistics table behind tokenizer
    // seeding, stop-phrase lists, and multi-word-expression detection
    // (q103 models bigram TRANSITIONS for perplexity; PMI asks the
    // inverse question — which adjacent pairs co-occur far above
    // chance): pmi = ln(c_xy·N / (c_x·c_y)) over adjacent-pair and
    // unigram counts, support-filtered at c_xy ≥ 5, rounded ONCE to
    // integer micros (the q96 rule — ln of a quotient of exact
    // integers), top-40 by (pmi, pair). 100 TB shape: pair extraction
    // is scan-local (one transform over the word array, no
    // self-join); the bigram and unigram aggregates are the two
    // keyed shuffles; unigram counts are vocab-sized broadcasts back
    // onto the bigram table; N rides the audited 1-row broadcast;
    // the top-40 is a TakeOrdered over the support-filtered
    // vocab²-bounded table. ----
    QueryDef("q198_collocations", collocationsOracle) { (s, dir) =>
      val base = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(split(lower(col("text")), " ").as("ws"))
        .persist() // feeds the bigram AND unigram extractions
      val bigrams = base.filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1), i -> " +
            "struct(element_at(ws, i) as w1, element_at(ws, i + 1) as w2))"))
          .as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      val uni = base.select(explode(col("ws")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = base
        .agg(sum(greatest(size(col("ws")) - 1, lit(0))).cast(LongType).as("n"))
      bigrams.filter(col("c_xy") >= 5)
        .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_x"))), Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_y"))), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c_xy"),
          expr("cast(round(ln((c_xy * n) / cast(c_x * c_y as double)) * 1000000, 0) as bigint)")
            .as("pmi_micro"))
        .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
        .limit(40)
    },

    // ---- q200 (round 15): CRAWL → TRAINING SHARDS, end to end — the
    // round's capstone funnel (q149 chains four curation stages; this
    // chains the ROUND'S new layers into the full release path): raw
    // markup (q174's derived crawl) → `graft_html_text` extraction →
    // PII injection + redaction (q181's shared helpers, so governance
    // provably ran inside the funnel) → quality gate (≥ 20 words,
    // distinct-token ratio ≥ 0.45) → exact dedup (digest keep-first)
    // → q182's 16-shard export manifest, whose per-shard digest now
    // covers doc_id AND the final content digest of every surviving
    // document — ONE hash pins SIX stages: a drifting tag stripper, a
    // missed redaction, a wrong gate cut, a lost duplicate, or a
    // reshuffled shard all fail the same check. 100 TB shape: stages
    // 1–4 are perfectly scan-local codegen (kernel + regexp chains +
    // ratio arithmetic); dedup is one digest-keyed window; the
    // manifest is the one export shuffle — the same end-to-end shape
    // a production release run has. ----
    QueryDef("q200_crawl_to_shards", crawlToShardsOracle) { (s, dir) =>
      val kept = crawlKeptDocs(s, dir)
      val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType)
      kept
        .select(col("doc_id"), col("n_tok"), col("n_chr"), h.as("h"),
          concat(col("doc_id").cast(StringType), lit(":"), md5(col("t"))).as("entry"))
        .withColumn("shard", pmod(col("h"), lit(16L)))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast(LongType).as("n_tokens"),
          sum(col("n_chr")).cast(LongType).as("n_chars"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("h"), col("doc_id"), col("entry")))),
              x => x.getField("entry")),
            ",")).as("manifest_md5"))
        .orderBy(col("shard"))
    },

  )

  /** q200's curated keep set — HTML extract → PII redact → quality
    * gate → digest keep-first dedup — shared by the manifest capstone
    * (q200) and the MATERIALIZED crawl export (q202's
    * `Curation.ensureCrawlExport`, which writes these rows as real
    * shard files). Returns (doc_id, t, n_tok, n_chr). */
  private[graft] def crawlKeptDocs(s: SparkSession, dir: String): DataFrame = {
    // (Round 22 note: the q200 probe shows the funnel's map stage —
    // HTML kernel + PII regex chains + gate — as one 0.8 s task on the
    // single-row-group scan, so a Tables.loadSpread here looked like
    // the q66/q181 case; it A/B-measured NEGATIVE twice (q200 1.33 ->
    // 1.68/1.78, q202 1.39/1.45 -> 1.76/1.61): the full-text shuffle
    // plus the extra AQE stage round-trips cost more than the
    // parallelized kernels save at this SF. Reverted; not retried.)
    val extracted = T(s, dir, "documents")
      .filter(col("text").isNotNull)
      .withColumn("html", expr(htmlCaseSql))
      .select(col("doc_id"), expr("graft_html_text(html)").as("b0"))
    val redacted = extracted
      .select(col("doc_id"),
        Curation.redactPii(Curation.piiInjectedOn(col("b0"))).as("t"))
    val gated = redacted
      .withColumn("ws", split(col("t"), " "))
      .filter(size(col("ws")) >= 20 &&
        expr("CAST(round(CAST(size(array_distinct(ws)) AS DOUBLE) / size(ws) * 1000000, 0) AS BIGINT)") >= 450000)
    val wKeep = Window.partitionBy(md5(col("t"))).orderBy(col("doc_id"))
    gated
      .withColumn("rn", row_number().over(wKeep)).filter(col("rn") === 1)
      .select(col("doc_id"), col("t"),
        size(col("ws")).cast(LongType).as("n_tok"),
        length(col("t")).cast(LongType).as("n_chr"))
  }

  /** DuckDB mirror of q238: replays the waveform FORMULA directly
    * (never the RIFF container — only the Spark side round-trips real
    * WAV bytes through javax.sound.sampled). Integer sqrt = double
    * sqrt with a one-step adjust, exact for m <= 4e6 (samples bounded
    * at |v| <= 2000); matches Multimodal.isqrt bit-for-bit. */
  private def wavRmsOracle: String =
    """WITH d AS (SELECT doc_id, lang FROM documents),
      |s AS (
      |  SELECT d.doc_id, d.lang, u.i,
      |    ((d.doc_id * 7919 + u.i * 31) % 4001) - 2000 AS v
      |  FROM d, unnest(generate_series(0, 400 * (2 + d.doc_id % 4) - 1)) AS u(i)),
      |w AS (
      |  SELECT doc_id, lang, i // 400 AS window_idx,
      |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v * v) AS BIGINT) AS ss
      |  FROM s GROUP BY 1, 2, 3),
      |r AS (
      |  SELECT lang, n, ss, ss // n AS m,
      |    CAST(floor(sqrt(CAST(ss // n AS DOUBLE))) AS BIGINT) AS fs
      |  FROM w),
      |q AS (
      |  SELECT lang, n, ss,
      |    CASE WHEN (fs + 1) * (fs + 1) <= m THEN fs + 1
      |         WHEN fs * fs > m THEN fs - 1
      |         ELSE fs END AS rms
      |  FROM r)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_windows,
      |  CAST(SUM(n) AS BIGINT) AS n_samples,
      |  CAST(SUM(ss) AS BIGINT) AS sum_sq,
      |  MAX(rms) AS max_rms,
      |  CAST(SUM(rms) AS BIGINT) AS sum_rms
      |FROM q GROUP BY lang ORDER BY lang""".stripMargin

  /** DuckDB mirror of q200: q174's regex extraction chain + q181's
    * injection/redaction (shared constants) + the gate + digest
    * keep-first + q182's manifest, composed into ONE query. */
  private def crawlToShardsOracle: String =
    crawlKeptOracleCtes +
      """
        |SELECT h % 16 AS shard, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chr) AS BIGINT) AS n_chars,
        |  md5(string_agg(entry, ',' ORDER BY h, doc_id)) AS manifest_md5
        |FROM e GROUP BY 1
        |ORDER BY shard""".stripMargin

  /** The q200 keep-set CTE chain through `e` (doc_id, n_tok, n_chr, h,
    * entry) — shared with q202's export-reconciliation oracle so the
    * manifest the files are checked against cannot drift from the
    * capstone's. */
  private[graft] def crawlKeptOracleCtes: String =
    s"""WITH h0 AS (
       |  SELECT doc_id, $htmlCaseSql AS html
       |  FROM documents WHERE text IS NOT NULL),
       |x AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(
       |      replace(replace(replace(replace(replace(replace(
       |        regexp_replace(regexp_replace(regexp_replace(html,
       |          '(?is)<script[^>]*>.*?</script>', '', 'g'),
       |          '(?is)<style[^>]*>.*?</style>', '', 'g'),
       |          '<[^>]*>', ' ', 'g'),
       |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
       |      '[ \\t\\r\\n]+', ' ', 'g')) AS b0
       |  FROM h0),
       |r AS (
       |  SELECT doc_id,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          ${Curation.piiInjectSqlOn("b0")},
       |          '${Curation.EmailPat}', '<EMAIL>', 'g'),
       |        '${Curation.SsnPat}', '<SSN>', 'g'),
       |      '${Curation.PhonePat}', '<PHONE>', 'g') AS t
       |  FROM x),
       |g AS (
       |  SELECT doc_id, t, string_split(t, ' ') AS ws FROM r
       |  WHERE len(string_split(t, ' ')) >= 20 AND
       |    CAST(round(CAST(len(list_distinct(string_split(t, ' '))) AS DOUBLE)
       |         / len(string_split(t, ' ')) * 1000000, 0) AS BIGINT) >= 450000),
       |k AS (
       |  SELECT doc_id, t, CAST(len(ws) AS BIGINT) AS n_tok,
       |    CAST(length(t) AS BIGINT) AS n_chr,
       |    ROW_NUMBER() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn
       |  FROM g),
       |e AS (
       |  SELECT doc_id, n_tok, n_chr,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
       |    CAST(doc_id AS VARCHAR) || ':' || md5(t) AS entry
       |  FROM k WHERE rn = 1)""".stripMargin

  /** DuckDB mirror of q198: same adjacent-pair extraction, same
    * support filter, same once-rounded integer-micro PMI, same
    * (pmi, pair) top-40. */
  private def collocationsOracle: String =
    """WITH w AS (
      |  SELECT string_split(lower(text), ' ') AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |big AS (
      |  SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS c_xy
      |  FROM w, unnest(generate_series(1, len(ws) - 1)) AS u(i)
      |  WHERE len(ws) >= 2
      |  GROUP BY 1, 2),
      |uni AS (
      |  SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM w)
      |  GROUP BY w),
      |tot AS (
      |  SELECT CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT) AS n FROM w)
      |SELECT b.w1, b.w2, b.c_xy,
      |  CAST(round(ln((b.c_xy * tot.n) / CAST(ux.c * uy.c AS DOUBLE)) * 1000000, 0)
      |       AS BIGINT) AS pmi_micro
      |FROM big b
      |JOIN uni ux ON ux.w = b.w1
      |JOIN uni uy ON uy.w = b.w2
      |CROSS JOIN tot
      |WHERE b.c_xy >= 5
      |ORDER BY pmi_micro DESC, b.w1, b.w2
      |LIMIT 40""".stripMargin

  /** DuckDB mirror of q157: same hashed buckets, add-1 weights and
    * prior rounded once to micros, same miss-weight fill, argmax ties
    * to the larger class (the struct-max order). */
  private def nbClassifierOracle: String =
    s"""WITH words AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(w), 1, 15))::BIGINT % 4096 AS b
      |  FROM (SELECT doc_id, lang,
      |          $wordFeatOracleSql AS w
      |        FROM documents WHERE text IS NOT NULL)
      |  WHERE len(w) > 0),
      |train AS (SELECT * FROM words WHERE doc_id % 5 <> 0),
      |cnt AS (SELECT lang AS k, b, COUNT(*) AS c FROM train GROUP BY 1, 2),
      |tot AS (SELECT lang AS k, COUNT(*) AS n FROM train GROUP BY 1),
      |prior AS (
      |  SELECT lang AS k, CAST(round(ln(COUNT(*) /
      |      CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 5 <> 0) AS DOUBLE))
      |      * 1000000, 0) AS BIGINT) AS prior_micro
      |  FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
      |stats AS (
      |  SELECT t.k, p.prior_micro,
      |    CAST(round(ln(1 / CAST(t.n + 4096 AS DOUBLE)) * 1000000, 0) AS BIGINT)
      |      AS miss_micro
      |  FROM tot t JOIN prior p USING (k)),
      |wts AS (
      |  SELECT k, b,
      |    CAST(round(ln((c + 1) / CAST(n + 4096 AS DOUBLE)) * 1000000, 0) AS BIGINT)
      |      AS w_micro
      |  FROM cnt JOIN tot USING (k)),
      |evalcnt AS (
      |  SELECT doc_id, b, COUNT(*) AS cb FROM words WHERE doc_id % 5 = 0
      |  GROUP BY 1, 2),
      |sums AS (
      |  SELECT e.doc_id, s.k,
      |    CAST(SUM(e.cb * coalesce(w.w_micro, s.miss_micro)) AS BIGINT) AS s_micro
      |  FROM evalcnt e CROSS JOIN stats s
      |  LEFT JOIN wts w ON w.k = s.k AND w.b = e.b
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.doc_id, d.lang AS true_lang, s.k AS pred_lang,
      |    s.prior_micro + coalesce(m.s_micro, 0) AS score
      |  FROM documents d CROSS JOIN stats s
      |  LEFT JOIN sums m ON m.doc_id = d.doc_id AND m.k = s.k
      |  WHERE d.doc_id % 5 = 0),
      |pred AS (
      |  SELECT true_lang, pred_lang FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, pred_lang DESC) AS rn
      |    FROM scored) WHERE rn = 1)
      |SELECT true_lang, pred_lang, COUNT(*) AS n_docs
      |FROM pred GROUP BY 1, 2 ORDER BY true_lang, pred_lang""".stripMargin

  /** DuckDB mirror of q158: same integer-micro ln(1 + A/f) weight
    * (rounded before the tf multiply), same rank tie-break. */
  private def ctfidfOracle: String =
    s"""WITH words AS (
      |  SELECT lang, w FROM (
      |    SELECT lang, $wordFeatOracleSql AS w
      |    FROM documents WHERE text IS NOT NULL)
      |  WHERE len(w) > 0),
      |tf AS (SELECT lang, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
      |f AS (SELECT w, COUNT(*) AS f FROM words GROUP BY 1),
      |totals AS (SELECT COUNT(*) AS total, COUNT(DISTINCT lang) AS nc FROM words),
      |weighted AS (
      |  SELECT lang, w, tf,
      |    CAST(round(ln((nc * f + total) / CAST(nc * f AS DOUBLE)) * 1000000, 0)
      |      AS BIGINT) * tf AS score_micro
      |  FROM tf JOIN f USING (w), totals)
      |SELECT lang, rank, w AS term, tf, score_micro FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY score_micro DESC, w) AS rank
      |  FROM weighted)
      |WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  /** DuckDB mirror of q159: same salted 60-bit hash, shard = hkey % 64,
    * within-shard rank, order-sensitive integer checksum. */
  private def epochShuffleOracle: String =
    """WITH a AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('e1:' || doc_id), 1, 15))::BIGINT AS hkey
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, hkey, hkey % 64 AS shard,
      |    ROW_NUMBER() OVER (PARTITION BY hkey % 64
      |        ORDER BY hkey, doc_id) AS pos
      |  FROM a)
      |SELECT shard, COUNT(*) AS n_docs,
      |  MAX(CASE WHEN pos = 1 THEN doc_id END) AS first_doc,
      |  CAST(SUM(pos * doc_id) AS BIGINT) AS order_checksum
      |FROM p GROUP BY shard ORDER BY shard""".stripMargin

  // ---- BPE shared pieces (q150/q151/q156/q162/q173) ----

  /** Unicode word features for the hashed-feature family (q155 DSIR,
    * q157 NB classifier, q158 c-TF-IDF, q161 postings): NFC-normalized
    * lowercase text split on [^\p{L}\p{N}]+ — the BPE family's rule
    * (r14 #2) applied corpus-wide, so non-Latin scripts carry features
    * instead of hashing to nothing (the r15 ASCII-only split made
    * domain selection and classification vacuous for exactly the
    * under-represented scripts these operators exist to serve). */
  private[graft] def wordFeatCol: Column = wordFeatColOn(col("text"))

  /** Same rule over an arbitrary text column (q206 features the DERIVED
    * snapshot text, not the raw column). */
  private[graft] def wordFeatColOn(c: Column): Column =
    split(call_function("graft_nfc", lower(c)), "[^\\p{L}\\p{N}]+")

  /** DuckDB twin of wordFeatCol's explode: RE2 accepts the same
    * \p{L}\p{N} property classes and nfc_normalize matches graft_nfc
    * (agreement spot-validated on Hangul/umlauts by q141), so the two
    * engines tokenize multilingual text identically. */
  private[graft] def wordFeatOracleSql: String = wordFeatOracleSqlOn("text")

  /** The twin over an arbitrary SQL text expression. */
  private[graft] def wordFeatOracleSqlOn(e: String): String =
    s"""unnest(string_split_regex(nfc_normalize(lower($e)), '[^\\p{L}\\p{N}]+'))"""

  /** q168's gate with its Observation attached — the C4 rules of q47 as
    * a FILTER (q47 reports; this gates), with the audit counters
    * collected in-flight on the same scan. Returns (gated summary,
    * observation); the registry entry returns the frame, ObserveGateSpec
    * runs an action and asserts the counters. A fresh Observation per
    * call: they are one-shot per action. */
  private[graft] def observedQualityGate(
      s: SparkSession, dir: String): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val d = T(s, dir, "documents")
      .select(col("lang"), col("n_chars"), col("text"))
      .withColumn("ws", split(lower(col("text")), " "))
      .withColumn("n_tok", size(col("ws")))
      .withColumn("mtl",
        (col("n_chars") - (col("n_tok") - 1)).cast(DoubleType) / col("n_tok"))
      .withColumn("n_stop",
        size(filter(col("ws"), w => w === "the" || w === "a" || w === "of")))
      .withColumn("dr", size(array_distinct(col("ws"))).cast(DoubleType) / col("n_tok"))
      .withColumn("pass",
        col("text").isNotNull && col("n_tok").between(10, 1000) &&
          col("mtl") >= 2 && col("mtl") <= 12 &&
          col("n_stop") >= 1 && col("dr") >= 0.3)
      .observe(obs,
        count(lit(1)).as("n_input"),
        sum(when(col("text").isNull, 1).otherwise(0)).as("n_null_text"),
        sum(when(col("pass"), 1).otherwise(0)).as("n_kept"),
        sum(when(!col("pass"), 1).otherwise(0)).as("n_dropped"))
    val out = d.filter(col("pass"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).cast(LongType).as("n_tokens"))
      .orderBy(col("lang"))
    (out, obs)
  }

  /** DuckDB mirror of q164: same 60-bit lang-scoped gram set, same
    * i..i+2 coverage arithmetic, same ordered-reassembly digest. */
  private def decontamRewriteOracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |bench AS (
      |  SELECT DISTINCT lang,
      |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS g
      |  FROM d, unnest(generate_series(1, len(ws) - 2)) AS u(i)
      |  WHERE doc_id % 20 = 0 AND len(ws) >= 3),
      |train AS (SELECT * FROM d WHERE doc_id % 20 <> 0),
      |grams AS (
      |  SELECT doc_id, lang, i,
      |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS g
      |  FROM train, unnest(generate_series(1, len(ws) - 2)) AS u(i)
      |  WHERE len(ws) >= 3),
      |cov AS (
      |  SELECT DISTINCT h.doc_id, h.i + o.off AS pos
      |  FROM (SELECT gr.doc_id, gr.i FROM grams gr
      |        JOIN bench b ON b.lang = gr.lang AND b.g = gr.g) h,
      |       unnest([0, 1, 2]) AS o(off)),
      |words AS (
      |  SELECT doc_id, i AS pos, ws[i] AS w
      |  FROM train, unnest(generate_series(1, len(ws))) AS u(i)),
      |kept AS (
      |  SELECT w.doc_id, w.pos, w.w FROM words w
      |  LEFT JOIN cov c ON c.doc_id = w.doc_id AND c.pos = w.pos
      |  WHERE c.doc_id IS NULL),
      |reb AS (
      |  SELECT doc_id, COUNT(*) AS n_kept,
      |    md5(string_agg(w, ' ' ORDER BY pos)) AS clean_md5
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, len(t.ws) AS n_words,
      |  coalesce(r.n_kept, 0) AS n_kept,
      |  len(t.ws) - coalesce(r.n_kept, 0) AS n_cut,
      |  coalesce(r.clean_md5, md5('')) AS clean_md5
      |FROM train t LEFT JOIN reb r USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** The derived markup: plain SQL shared verbatim by both engines
    * (q174). Branches on doc_id so every extraction code path appears in
    * the corpus: %7 style block, %5 script with embedded '<' and an
    * entity, %11 unclosed tag, %13 unterminated script open (only its
    * open tag strips), %19 the style/script interleave that pins pass
    * order. */
  private[queries] def htmlCaseSql: String =
    """'<html><head><title>' || source || ' #' || doc_id || '</title>' ||
      |      CASE WHEN doc_id % 7 = 0
      |        THEN '<style type="text/css">p { color: red }</style>' ELSE '' END ||
      |      '</head><body>' ||
      |      CASE WHEN doc_id % 5 = 0
      |        THEN '<script>var x = 1 < 2; alert("&amp;");</script>' ELSE '' END ||
      |      '<h1 class="t">' || source || '</h1><p>' ||
      |      replace(text, ' the ', ' &amp;the&nbsp;') || '</p>' ||
      |      CASE WHEN doc_id % 11 = 0 THEN '<p>broken <unclosed' ELSE '' END ||
      |      CASE WHEN doc_id % 13 = 0 THEN '<script>no close' ELSE '' END ||
      |      CASE WHEN doc_id % 19 = 0
      |        THEN '<style>x<script>y</style>z</script>w' ELSE '' END ||
      |      '</body></html>'""".stripMargin

  /** DuckDB mirror of q174: the regex chain IS the semantic definition
    * the kernel implements (see Sketches.htmlText). */
  private def htmlExtractOracle: String =
    s"""WITH h AS (
       |  SELECT doc_id, $htmlCaseSql AS html
       |  FROM documents WHERE text IS NOT NULL),
       |x AS (
       |  SELECT doc_id,
       |    regexp_extract(html, '(?is)<title>(.*?)</title>', 1) AS title,
       |    trim(regexp_replace(
       |      replace(replace(replace(replace(replace(replace(
       |        regexp_replace(regexp_replace(regexp_replace(html,
       |          '(?is)<script[^>]*>.*?</script>', '', 'g'),
       |          '(?is)<style[^>]*>.*?</style>', '', 'g'),
       |          '<[^>]*>', ' ', 'g'),
       |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
       |      '[ \\t\\r\\n]+', ' ', 'g')) AS body
       |  FROM h)
       |SELECT doc_id, title, len(body) AS n_chars, md5(body) AS body_md5
       |FROM x ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of q155: same hashed-unigram buckets (shared 60-bit
    * md5 rule mod 1024), same add-1-smoothed log-ratio rounded once to
    * integer micro-units, same order-free integer per-doc sum. */
  private def dsirOracle: String =
    s"""WITH words AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(w), 1, 15))::BIGINT % 1024 AS b
      |  FROM (SELECT doc_id, lang,
      |          $wordFeatOracleSql AS w
      |        FROM documents WHERE text IS NOT NULL)
      |  WHERE len(w) > 0),
      |tgt AS (SELECT b, COUNT(*) AS ct FROM words WHERE doc_id % 20 = 0 GROUP BY b),
      |srcw AS (SELECT * FROM words WHERE doc_id % 20 <> 0),
      |scnt AS (SELECT b, COUNT(*) AS cs FROM srcw GROUP BY b),
      |tott AS (SELECT COUNT(*) AS nt FROM words WHERE doc_id % 20 = 0),
      |tots AS (SELECT COUNT(*) AS ns FROM srcw),
      |ratio AS (
      |  SELECT s.b,
      |    CAST(round(ln(((COALESCE(t.ct, 0) + 1) * (ns + 1024))
      |                  / ((s.cs + 1) * (nt + 1024))) * 1000000, 0) AS BIGINT) AS r_micro
      |  FROM scnt s LEFT JOIN tgt t USING (b), tott, tots),
      |perdoc AS (
      |  SELECT doc_id, lang, b, COUNT(*) AS cnt FROM srcw GROUP BY 1, 2, 3),
      |scores AS (
      |  SELECT doc_id, lang, CAST(SUM(cnt * r_micro) AS BIGINT) AS score_micro
      |  FROM perdoc JOIN ratio USING (b) GROUP BY 1, 2)
      |SELECT * FROM (
      |  SELECT ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rank,
      |    doc_id, lang, score_micro
      |  FROM scores)
      |WHERE rank <= 50
      |ORDER BY rank""".stripMargin

  /** DuckDB mirror of q149: the same four chained stages — q47's quality
    * rules, keep-first dedup on md5 of the re-joined tokens, and the
    * any-shared-shingle decontamination (long-form md5 shingles, the
    * formula graft_shingle_hashes implements). */
  private def curationFunnelOracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang, n_chars, string_split(lower(text), ' ') AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |pool AS (
      |  SELECT doc_id, lang, n_chars, ws, len(ws) AS n_tok
      |  FROM d WHERE doc_id % 20 <> 0),
      |keepq AS (
      |  SELECT doc_id, lang, ws, n_tok FROM (
      |    SELECT doc_id, lang, ws, n_tok,
      |      CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok AS mtl,
      |      len(list_filter(ws, x -> x = 'the' OR x = 'a' OR x = 'of')) AS n_stop,
      |      CAST(len(list_distinct(ws)) AS DOUBLE) / n_tok AS dr
      |    FROM pool)
      |  WHERE n_tok BETWEEN 10 AND 1000 AND mtl >= 2 AND mtl <= 12
      |    AND n_stop >= 1 AND dr >= 0.3),
      |dedup AS (
      |  SELECT doc_id, lang, ws, n_tok FROM (
      |    SELECT k.doc_id, k.lang, k.ws, k.n_tok,
      |      ROW_NUMBER() OVER (
      |        PARTITION BY md5(substr(regexp_replace(lower(doc.text), '\s+', ' ', 'g'), 1, 64))
      |        ORDER BY k.doc_id) AS rn
      |    FROM keepq k JOIN documents doc ON doc.doc_id = k.doc_id)
      |  WHERE rn = 1),
      |bench AS (
      |  SELECT DISTINCT lang,
      |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS g
      |  FROM d, unnest(generate_series(1, len(ws) - 2)) AS u(i)
      |  WHERE doc_id % 20 = 0 AND len(ws) >= 3),
      |cgrams AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS g
      |  FROM dedup, unnest(generate_series(1, len(ws) - 2)) AS u(i)
      |  WHERE len(ws) >= 3),
      |contaminated AS (
      |  SELECT DISTINCT cg.doc_id FROM cgrams cg
      |  JOIN bench b ON b.lang = cg.lang AND b.g = cg.g),
      |clean AS (
      |  SELECT * FROM dedup
      |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
      |SELECT * FROM (
      |  SELECT '0_pool' AS stage, COUNT(*) AS n_docs,
      |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM pool
      |  UNION ALL SELECT '1_quality', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM keepq
      |  UNION ALL SELECT '2_fingerprint_dedup', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM dedup
      |  UNION ALL SELECT '3_decontaminated', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM clean)
      |ORDER BY stage""".stripMargin

  /** DuckDB mirror of q126: same trigram extraction (1-based char
    * substrings, hashed with the shared 60-bit md5 rule the
    * graft_trigram_hashes kernel implements), same top-K profile rank
    * (hash tie-break), same overlap-count argmax. */
  private def langIdOracle: String =
    s"""WITH docs AS (
       |  SELECT doc_id, lang, text FROM documents
       |  WHERE text IS NOT NULL AND length(text) >= 3),
       |grams AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(substring(text, CAST(i AS INT), 3)), 1, 15))::BIGINT AS tg
       |  FROM docs, unnest(generate_series(1, length(text) - 2)) AS u(i)),
       |prof AS (
       |  SELECT plang, tg FROM (
       |    SELECT lang AS plang, tg,
       |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tg) AS rk
       |    FROM grams WHERE doc_id % 5 <> 0 GROUP BY lang, tg)
       |  WHERE rk <= $LangIdProfileK),
       |pred AS (
       |  SELECT doc_id, plang FROM (
       |    SELECT doc_id, plang,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, plang) AS rk
       |    FROM grams JOIN prof USING (tg) WHERE doc_id % 5 = 0
       |    GROUP BY doc_id, plang)
       |  WHERE rk = 1)
       |SELECT d.lang AS actual_lang, COALESCE(p.plang, 'und') AS pred_lang,
       |  COUNT(*) AS n_docs
       |FROM docs d LEFT JOIN pred p USING (doc_id)
       |WHERE d.doc_id % 5 = 0
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** DuckDB mirror of q234: same score, same three conditional sums,
    * same micro shares. */
  private def thresholdSweepOracle: String = {
    val legs = Seq(350000L, 450000L, 550000L).map { th =>
      s"""SELECT CAST($th AS BIGINT) AS threshold_micro,
         |  CAST(SUM(CASE WHEN score_micro >= $th THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(SUM(CASE WHEN score_micro >= $th THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tok_kept,
         |  CAST(SUM(CASE WHEN score_micro >= $th THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000 // COUNT(*) AS keep_micro,
         |  CASE WHEN CAST(SUM(n_tok) AS BIGINT) > 0 THEN
         |    CAST(SUM(CASE WHEN score_micro >= $th THEN n_tok ELSE 0 END) AS BIGINT)
         |      * 1000000 // CAST(SUM(n_tok) AS BIGINT)
         |    ELSE 0 END AS token_keep_micro
         |FROM d""".stripMargin
    }
    """WITH d AS (
      |  SELECT CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
      |    CAST(round(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
      |         / len(string_split(lower(text), ' ')) * 1000000, 0) AS BIGINT)
      |      AS score_micro
      |  FROM documents WHERE text IS NOT NULL)
      |""".stripMargin +
      legs.mkString("\nUNION ALL\n") + "\nORDER BY threshold_micro"
  }

  /** DuckDB mirror of q235: same (word, doc) counts, same rollup, the
    * same (total DESC, w) top-20. */
  private def burstinessOracle: String =
    """WITH wd AS (
      |  SELECT w, doc_id, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents WHERE text IS NOT NULL)
      |  WHERE len(w) > 0 GROUP BY w, doc_id)
      |SELECT w, CAST(SUM(c) AS BIGINT) AS total,
      |  COUNT(*) AS df,
      |  CAST(MAX(c) AS BIGINT) AS max_in_doc,
      |  (CAST(SUM(c) AS BIGINT) * 1000000) // COUNT(*) AS mean_per_doc_micro
      |FROM wd GROUP BY w
      |ORDER BY total DESC, w
      |LIMIT 20""".stripMargin

  /** DuckDB mirror of q231: same per-source word frequencies, same
    * (freq DESC, w) head rank, same integer-micro ratios. */
  private def zipfProfileOracle: String =
    """WITH f AS (
      |  SELECT source, w, COUNT(*) AS freq FROM (
      |    SELECT source, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents WHERE text IS NOT NULL)
      |  WHERE len(w) > 0 GROUP BY source, w),
      |b AS (
      |  SELECT source, CAST(SUM(freq) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS n_types,
      |    CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      |  FROM f GROUP BY source),
      |h AS (
      |  SELECT source, CAST(SUM(freq) AS BIGINT) AS head_mass FROM (
      |    SELECT source, freq,
      |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY freq DESC, w) AS rk
      |    FROM f)
      |  WHERE rk <= 100 GROUP BY source)
      |SELECT b.source, b.n_tokens, b.n_types, b.n_hapax,
      |  (h.head_mass * 1000000) // b.n_tokens AS head100_micro,
      |  (b.n_hapax * 1000000) // b.n_types AS hapax_micro,
      |  (b.n_types * 1000000) // b.n_tokens AS ttr_micro
      |FROM b JOIN h USING (source)
      |ORDER BY source""".stripMargin

  /** DuckDB mirror of q232: same cohorts, same corpus-vocabulary anti
    * join, same micro ratios. */
  private def growthNoveltyOracle: String =
    """WITH w1 AS (
      |  SELECT DISTINCT w FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents WHERE text IS NOT NULL AND doc_id % 10 <> 7)
      |  WHERE len(w) > 0),
      |dl AS (
      |  SELECT source, w, COUNT(*) AS freq FROM (
      |    SELECT source, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 7)
      |  WHERE len(w) > 0 GROUP BY source, w),
      |nv AS (
      |  SELECT source, COUNT(*) AS novel_types,
      |    CAST(SUM(freq) AS BIGINT) AS novel_mass
      |  FROM dl WHERE w NOT IN (SELECT w FROM w1)
      |  GROUP BY source),
      |t AS (
      |  SELECT source, CAST(SUM(freq) AS BIGINT) AS delta_tokens,
      |    COUNT(*) AS delta_types
      |  FROM dl GROUP BY source)
      |SELECT t.source, t.delta_tokens, t.delta_types,
      |  COALESCE(nv.novel_types, 0) AS novel_types,
      |  COALESCE(nv.novel_mass, 0) AS novel_mass,
      |  (COALESCE(nv.novel_mass, 0) * 1000000) // t.delta_tokens AS novelty_micro
      |FROM t LEFT JOIN nv USING (source)
      |ORDER BY t.source""".stripMargin

  /** DuckDB mirror of q225: same salted order, same per-source top-3. */
  private def inspectionSampleOracle: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
      |    md5(text) AS text_md5,
      |    ('0x' || substr(md5('qa:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      AS hkey
      |  FROM documents WHERE text IS NOT NULL),
      |r AS (
      |  SELECT source, doc_id, n_tok, text_md5,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY hkey, doc_id) AS BIGINT) AS rk
      |  FROM d)
      |SELECT source, rk, doc_id, n_tok, text_md5
      |FROM r WHERE rk <= 3
      |ORDER BY source, rk""".stripMargin

  /** DuckDB mirror of q124: q98's segmentation, doc frequency per
    * (source, line-hash), the same >= BoilerMinDocs rule and rollups. */
  private def boilerplateOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, source, string_split(lower(text), ' ') AS ws
       |  FROM documents WHERE text IS NOT NULL),
       |n AS (
       |  SELECT doc_id, source, ws,
       |    CAST(ceil(len(ws) / $LineWords.0) AS BIGINT) AS n_segs FROM w),
       |segs AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5(array_to_string(
       |      ws[si * $LineWords + 1 : si * $LineWords + $LineWords], ' ')), 1, 15))::BIGINT AS h
       |  FROM n, unnest(generate_series(0, n_segs - 1)) AS u(si)),
       |ld AS (SELECT DISTINCT source, h, doc_id FROM segs),
       |boiler AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, COUNT(*) AS n_docs_line FROM ld GROUP BY 1, 2)
       |  WHERE n_docs_line >= $BoilerMinDocs),
       |per AS (
       |  SELECT source, COUNT(*) AS n_lines, COUNT(DISTINCT h) AS n_distinct_lines,
       |    COUNT(DISTINCT doc_id) AS n_docs
       |  FROM segs GROUP BY source),
       |rem AS (
       |  SELECT s.source, COUNT(*) AS n_removed, COUNT(DISTINCT s.doc_id) AS n_affected_docs
       |  FROM segs s
       |  WHERE EXISTS (SELECT 1 FROM boiler b WHERE b.source = s.source AND b.h = s.h)
       |  GROUP BY s.source),
       |bc AS (SELECT source, COUNT(*) AS n_boiler_lines FROM boiler GROUP BY source)
       |SELECT per.source, per.n_docs, per.n_lines, per.n_distinct_lines,
       |  COALESCE(bc.n_boiler_lines, 0) AS n_boiler_lines,
       |  COALESCE(rem.n_affected_docs, 0) AS n_affected_docs,
       |  COALESCE(rem.n_removed, 0) AS n_removed
       |FROM per
       |LEFT JOIN bc USING (source)
       |LEFT JOIN rem USING (source)
       |ORDER BY per.source""".stripMargin

  /** DuckDB mirror of q141 (boilerplate removal rewrite): q98's
    * segmentation, dictionary = segments in >= 3 distinct docs
    * (NOT IN instead of the broadcast anti join), identical ordered
    * reassembly digest. */
  private def cleanTextOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws
       |  FROM documents WHERE text IS NOT NULL),
       |n AS (
       |  SELECT doc_id, ws, CAST(ceil(len(ws) / $LineWords.0) AS BIGINT) AS n_segs FROM w),
       |segs AS (
       |  SELECT doc_id, CAST(si AS BIGINT) AS seg_idx,
       |    array_to_string(ws[si * $LineWords + 1 : si * $LineWords + $LineWords], ' ') AS seg
       |  FROM n, unnest(generate_series(0, n_segs - 1)) AS u(si)),
       |bp AS (
       |  SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3),
       |kept AS (
       |  SELECT doc_id, seg_idx, seg FROM segs
       |  WHERE seg NOT IN (SELECT seg FROM bp)),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS cleaned_md5
       |  FROM kept GROUP BY doc_id)
       |SELECT n.doc_id, n.n_segs,
       |  COALESCE(agg.n_kept, 0) AS n_kept,
       |  n.n_segs - COALESCE(agg.n_kept, 0) AS n_dropped,
       |  COALESCE(agg.cleaned_md5, md5('')) AS cleaned_md5
       |FROM n LEFT JOIN agg USING (doc_id)
       |ORDER BY n.doc_id""".stripMargin

  /** DuckDB mirror of q142 (temperature mixing): identical single pow()
    * per language converted to integer micros before any sum or division
    * (the q131 int-exactness rule). */
  private def temperatureMixOracle: String =
    s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |t AS (SELECT SUM(n_docs) AS n_total FROM c),
       |s AS (
       |  SELECT lang, n_docs,
       |    CAST(round(pow(n_docs * 1.0 / (SELECT n_total FROM t), 0.3) * 1000000) AS BIGINT)
       |      AS weight_micro
       |  FROM c),
       |u AS (SELECT SUM(weight_micro) AS sum_wm FROM s)
       |SELECT lang, n_docs,
       |  CAST((n_docs * 1000000) // (SELECT n_total FROM t) AS BIGINT) AS share_micro,
       |  weight_micro,
       |  CAST(($MixBudget * weight_micro) // (SELECT sum_wm FROM u) AS BIGINT) AS target_docs
       |FROM s ORDER BY lang""".stripMargin

  /** DuckDB mirror of q57: same hashed shingles (Sketches.shingleHashes),
    * same benchmark split, membership via IN instead of the semi join. */
  private def decontaminateOracle: String =
    """WITH words AS (
      |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS h
      |  FROM words, unnest(generate_series(1, len(ws)-2)) AS u(i)
      |  WHERE len(ws) >= 3),
      |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
      |contam AS (
      |  SELECT DISTINCT doc_id, lang FROM sh
      |  WHERE doc_id % 50 <> 0 AND h IN (SELECT h FROM bench)),
      |train AS (
      |  SELECT lang, COUNT(*) AS n_train FROM documents
      |  WHERE doc_id % 50 <> 0 GROUP BY lang),
      |cc AS (SELECT lang, COUNT(*) AS n_contaminated FROM contam GROUP BY lang)
      |SELECT train.lang, train.n_train,
      |  COALESCE(cc.n_contaminated, 0) AS n_contaminated
      |FROM train LEFT JOIN cc USING (lang)
      |ORDER BY lang""".stripMargin

  /** DuckDB mirror of q58 (per-document duplicate-shingle ratio). */
  private def repetitionOracle: String =
    """WITH words AS (
      |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS h
      |  FROM words, unnest(generate_series(1, len(ws)-2)) AS u(i)
      |  WHERE len(ws) >= 3),
      |per AS (
      |  SELECT doc_id, lang, COUNT(*) AS total, COUNT(DISTINCT h) AS uniq
      |  FROM sh GROUP BY doc_id, lang)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(total) AS BIGINT) AS sum_shingles,
      |  CAST(SUM(total - uniq) AS BIGINT) AS sum_dups,
      |  round(AVG(1.0 - uniq::DOUBLE / total), 6) AS avg_dup_ratio
      |FROM per GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** DuckDB mirror of q102: same lowercasing, same strided windows
    * (SPAN_W/SPAN_S interpolated from Sketches so both engines move in
    * lockstep), same 60-bit md5 hashes, same within-doc DISTINCT. */
  private def dupSpansOracle: String = {
    val w = graft.functions.Sketches.SPAN_W
    val s = graft.functions.Sketches.SPAN_S
    s"""WITH n AS (
       |  SELECT doc_id, lang, lower(text) AS nt
       |  FROM documents WHERE text IS NOT NULL),
       |sp AS (
       |  SELECT DISTINCT doc_id, lang,
       |    ('0x' || substr(md5(substr(nt, i, $w)), 1, 15))::BIGINT AS h
       |  FROM n, unnest(generate_series(1, len(nt) - ${w - 1}, $s)) AS u(i)),
       |m AS (
       |  SELECT doc_id, lang, COUNT(*) OVER (PARTITION BY h) AS n_docs_with
       |  FROM sp),
       |per AS (
       |  SELECT doc_id, lang, COUNT(*) AS n_spans,
       |    SUM(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS n_dup
       |  FROM m GROUP BY doc_id, lang)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_spans) AS BIGINT) AS sum_spans,
       |  CAST(SUM(n_dup) AS BIGINT) AS sum_dup_spans,
       |  round(AVG(n_dup::DOUBLE / n_spans), 6) AS avg_dup_frac,
       |  CAST(SUM(CASE WHEN n_dup * 2 >= n_spans THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_flagged
       |FROM per GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** DuckDB mirror of q103: identical 60-bit bigram/prefix hashes,
    * identical add-one smoothing, avg(-ln) cross-entropy, top-3 per lang. */
  /** DuckDB mirror of [[bigramCePerDoc]]: CTE chain ending in
    * `per` = (doc_id, lang, ce_raw, n_bigrams). Shared by the q103 and
    * q122 oracles — same no-drift rule as the Spark kernel. */
  private def bigramPerDocCte: String =
    """w AS (
      |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |bg AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(ws[i]), 1, 15))::BIGINT AS h1,
      |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 15))::BIGINT AS h2
      |  FROM w, unnest(generate_series(1, len(ws)-1)) AS u(i)
      |  WHERE len(ws) >= 2),
      |c2 AS (SELECT lang, h2, COUNT(*) AS c2 FROM bg GROUP BY lang, h2),
      |c1 AS (SELECT lang, h1, COUNT(*) AS c1 FROM bg GROUP BY lang, h1),
      |v AS (SELECT lang, COUNT(DISTINCT h1) AS v FROM bg GROUP BY lang),
      |sc AS (
      |  SELECT bg.doc_id, bg.lang, -ln((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v)) AS nll
      |  FROM bg JOIN c2 USING (lang, h2) JOIN c1 USING (lang, h1) JOIN v USING (lang)),
      |per AS (
      |  SELECT doc_id, lang, AVG(nll) AS ce_raw, COUNT(*) AS n_bigrams
      |  FROM sc GROUP BY doc_id, lang)""".stripMargin

  private def bigramLmOracle: String =
    s"""WITH $bigramPerDocCte,
       |r AS (
       |  SELECT lang, doc_id, ce_raw, n_bigrams,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ce_raw DESC, doc_id) AS rk
       |  FROM per)
       |SELECT lang, rk, doc_id, round(ce_raw, 6) AS ce, n_bigrams
       |FROM r WHERE rk <= 3
       |ORDER BY lang, rk""".stripMargin

  /** DuckDB mirror of q122: the shared [[bigramPerDocCte]] scoring, then
    * the identical NTILE(3) over (round(ce,6), doc_id). */
  private def perplexityBucketsOracle: String =
    s"""WITH $bigramPerDocCte,
       |b AS (
       |  SELECT lang, doc_id, ce_raw,
       |    NTILE(3) OVER (PARTITION BY lang ORDER BY round(ce_raw, 6), doc_id) AS bucket
       |  FROM per)
       |SELECT lang, bucket, COUNT(*) AS n_docs,
       |  round(MIN(ce_raw), 6) AS min_ce,
       |  round(MAX(ce_raw), 6) AS max_ce,
       |  round(AVG(ce_raw), 6) AS avg_ce
       |FROM b GROUP BY lang, bucket
       |ORDER BY lang, bucket""".stripMargin

  /** DuckDB mirror of q123: same split/lowercase 3-gram formulation and
    * md5-60-bit hash, held-out membership via EXISTS (= the left-semi),
    * same int/int division and top-5 window. */
  private def contaminationScoreOracle: String =
    """WITH w AS (
      |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS h
      |  FROM w, unnest(generate_series(1, len(ws) - 2)) AS u(i)
      |  WHERE len(ws) >= 3),
      |bench AS (SELECT DISTINCT lang, h FROM g WHERE doc_id % 20 = 0),
      |train AS (SELECT doc_id, lang, h FROM g WHERE doc_id % 20 <> 0),
      |tot AS (SELECT doc_id, lang, COUNT(*) AS n_grams FROM train GROUP BY 1, 2),
      |hit AS (
      |  SELECT t.doc_id, t.lang, COUNT(*) AS n_hit
      |  FROM train t
      |  WHERE EXISTS (SELECT 1 FROM bench b WHERE b.lang = t.lang AND b.h = t.h)
      |  GROUP BY 1, 2),
      |sc AS (
      |  SELECT tot.doc_id, tot.lang, tot.n_grams,
      |    COALESCE(hit.n_hit, 0) AS n_hit,
      |    round(COALESCE(hit.n_hit, 0)::DOUBLE / tot.n_grams, 6) AS frac
      |  FROM tot LEFT JOIN hit USING (doc_id, lang)),
      |r AS (
      |  SELECT lang, doc_id, n_grams, n_hit, frac,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY frac DESC, doc_id) AS rk
      |  FROM sc)
      |SELECT lang, rk, doc_id, n_grams, n_hit, frac
      |FROM r WHERE rk <= 5
      |ORDER BY lang, rk""".stripMargin

  /** DuckDB mirror of q104: the kernel computes the exact formula written
    * here — log2(n) - sum(c*log2(c))/n over per-character counts. */
  private def charEntropyOracle: String =
    """WITH pos AS (
      |  SELECT doc_id, lang, text, len(text) AS n FROM documents
      |  WHERE text IS NOT NULL AND len(text) > 0),
      |ch AS (
      |  SELECT doc_id, lang, substr(text, i, 1) AS c
      |  FROM pos, unnest(generate_series(1, n)) AS u(i)),
      |cc AS (SELECT doc_id, lang, c, COUNT(*) AS cnt FROM ch GROUP BY doc_id, lang, c),
      |per AS (
      |  SELECT doc_id, lang,
      |    log2(SUM(cnt)) - SUM(cnt * log2(cnt)) / SUM(cnt) AS h
      |  FROM cc GROUP BY doc_id, lang)
      |SELECT lang, COUNT(*) AS n_docs,
      |  round(AVG(h), 6) AS avg_entropy,
      |  round(MIN(h), 6) AS min_entropy,
      |  round(MAX(h), 6) AS max_entropy
      |FROM per GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** DuckDB mirror of q60: replays the decode/resize/sample stub
    * arithmetic (Multimodal.decodeStub / resizeStub / frameHash) in SQL. */
  private def framesOracle: String =
    """WITH m AS (
      |  SELECT doc_id, text,
      |    CASE WHEN doc_id % 3 = 0 THEN 'png'
      |         WHEN doc_id % 3 = 1 THEN 'jpeg'
      |         ELSE 'wav' END AS format
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, text, format,
      |    ('0x' || substr(md5(text), 1, 8))::BIGINT AS h1
      |  FROM m),
      |g AS (
      |  SELECT doc_id, text, format,
      |    64 + h1 % 193 AS w, 64 + (h1 // 193) % 193 AS h,
      |    1 + h1 % 7 AS n_frames
      |  FROM f),
      |r AS (
      |  SELECT doc_id, text, format, n_frames,
      |    CASE WHEN greatest(w, h) <= 224 THEN w
      |         ELSE CAST(floor(w * 224.0 / greatest(w, h)) AS BIGINT) END AS scaled_w,
      |    CASE WHEN greatest(w, h) <= 224 THEN h
      |         ELSE CAST(floor(h * 224.0 / greatest(w, h)) AS BIGINT) END AS scaled_h
      |  FROM g),
      |fr AS (
      |  SELECT doc_id, format, scaled_w, scaled_h,
      |    ('0x' || substr(md5(md5(text) || '_' || i), 1, 15))::BIGINT AS frame_hash
      |  FROM r, unnest(generate_series(1, n_frames)) AS u(i)
      |  WHERE (i - 1) % 2 = 0)
      |SELECT format, COUNT(*) AS n_frames_sampled,
      |  COUNT(DISTINCT doc_id) AS n_media,
      |  CAST(SUM(scaled_w) AS DOUBLE) / COUNT(*) AS avg_w,
      |  CAST(SUM(scaled_h) AS DOUBLE) / COUNT(*) AS avg_h,
      |  bit_xor(frame_hash) AS frames_checksum
      |FROM fr GROUP BY format
      |ORDER BY format""".stripMargin

  /** DuckDB mirror of q115: same head fingerprint (q48's normalization),
    * same mod-10 split rule, same zero-leakage audit. */
  private def leakageSafeSplitOracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 64)), 1, 15))::BIGINT AS fp
      |  FROM documents WHERE text IS NOT NULL),
      |a AS (
      |  SELECT doc_id, lang, fp,
      |    CASE WHEN fp % 10 < 8 THEN 'train'
      |         WHEN fp % 10 = 8 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM d),
      |leaky AS (
      |  SELECT COALESCE(COUNT(*), 0) AS n_leaky FROM (
      |    SELECT fp FROM a GROUP BY fp HAVING COUNT(DISTINCT split) > 1))
      |SELECT a.lang, a.split, COUNT(*) AS n_docs,
      |  CAST(leaky.n_leaky AS BIGINT) AS n_leaky
      |FROM a, leaky
      |GROUP BY a.lang, a.split, leaky.n_leaky
      |ORDER BY a.lang, a.split""".stripMargin

  /** DuckDB mirror of q116: same sqrt-weight micros, same int64 DIV
    * chain, same salted hash draw. Sums cast to BIGINT (DuckDB SUM of
    * BIGINT widens to HUGEINT, which would break the schema compare). */
  private def mixWeightsOracle: String =
    """WITH per AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |w AS (
      |  SELECT source, n_docs,
      |    CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS w_micro FROM per),
      |t AS (
      |  SELECT source, n_docs, w_micro,
      |    (5000 * w_micro) // CAST((SELECT SUM(w_micro) FROM w) AS BIGINT) AS target_docs
      |  FROM w),
      |p AS (
      |  SELECT source, n_docs, w_micro, target_docs,
      |    LEAST(1000000, (target_docs * 1000000) // n_docs) AS p_micro
      |  FROM t),
      |d AS (
      |  SELECT source,
      |    ('0x' || substr(md5('mix116_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS draw
      |  FROM documents),
      |smp AS (
      |  SELECT d.source, COUNT(*) AS n_sampled
      |  FROM d JOIN p ON d.source = p.source
      |  WHERE d.draw < p.p_micro GROUP BY d.source)
      |SELECT p.source, p.n_docs, p.w_micro, p.target_docs, p.p_micro,
      |  COALESCE(smp.n_sampled, 0) AS n_sampled
      |FROM p LEFT JOIN smp ON p.source = smp.source
      |ORDER BY p.source""".stripMargin

  /** DuckDB mirror of q117: same word-3-gram hash space as
    * [[decontaminateOracle]], same bottom-64 sketch, same union-k-min
    * Jaccard estimator. */
  private def sourceOverlapOracle: String =
    """WITH words AS (
      |  SELECT source, string_split(lower(text), ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT DISTINCT source,
      |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS h
      |  FROM words, unnest(generate_series(1, len(ws)-2)) AS u(i)
      |  WHERE len(ws) >= 3),
      |sig AS (
      |  SELECT source, h FROM (
      |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk
      |    FROM sh)
      |  WHERE rk <= 64),
      |pairs AS (
      |  SELECT x.source AS src_a, y.source AS src_b
      |  FROM (SELECT DISTINCT source FROM sig) x, (SELECT DISTINCT source FROM sig) y
      |  WHERE x.source < y.source),
      |u AS (
      |  SELECT src_a, src_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
      |    SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
      |    FROM pairs p JOIN sig s ON s.source = p.src_a
      |    UNION ALL
      |    SELECT p.src_a, p.src_b, s.h, 0 AS in_a, 1 AS in_b
      |    FROM pairs p JOIN sig s ON s.source = p.src_b)
      |  GROUP BY src_a, src_b, h),
      |r AS (
      |  SELECT src_a, src_b, in_a, in_b,
      |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
      |  FROM u)
      |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_union_k,
      |  CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
      |  round(CAST(SUM(in_a * in_b) AS DOUBLE) / COUNT(*), 6) AS jaccard_est
      |FROM r WHERE rk <= 64
      |GROUP BY src_a, src_b
      |ORDER BY src_a, src_b""".stripMargin

  private def textStatsOracle: String =
    """WITH d AS (
      |  SELECT lang, n_chars, string_split(lower(text), ' ') AS ws, lower(text) AS lt
      |  FROM documents),
      |c AS (
      |  SELECT lang, n_chars, len(ws) AS n_tok,
      |    len(regexp_extract_all(lt, '[a-z0-9]+')) AS n_rgx,
      |    len(list_filter(ws, x -> x = 'the')) AS c_en,
      |    len(list_filter(ws, x -> x = 'der')) AS c_de,
      |    len(list_filter(ws, x -> x = 'el')) AS c_es,
      |    len(list_filter(ws, x -> x = 'le')) AS c_fr,
      |    len(list_filter(ws, x -> x = '的')) AS c_zh
      |  FROM d),
      |p AS (
      |  SELECT *,
      |    CASE WHEN c_en >= greatest(c_de, c_es, c_fr, c_zh) AND c_en > 0 THEN 'en'
      |         WHEN c_de >= greatest(c_es, c_fr, c_zh) AND c_de > 0 THEN 'de'
      |         WHEN c_es >= greatest(c_fr, c_zh) AND c_es > 0 THEN 'es'
      |         WHEN c_fr >= c_zh AND c_fr > 0 THEN 'fr'
      |         WHEN c_zh > 0 THEN 'zh'
      |         ELSE 'und' END AS lang_pred,
      |    c_en + c_de + c_es + c_fr + c_zh AS n_stop
      |  FROM c)
      |SELECT lang, lang_pred, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(n_rgx) AS BIGINT) AS sum_rgx_tokens,
      |  CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS avg_tokens,
      |  CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tok) AS stop_ratio,
      |  CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tok) AS chars_per_tok
      |FROM p
      |GROUP BY lang, lang_pred
      |ORDER BY lang, lang_pred""".stripMargin

  // ---- q149's benchmark gram set as a STORED layout (round 14, VERDICT
  // r13 item 6): at 100 TB the benchmark suite is static — its shingle
  // set is written ONCE as a bucketed table and every curation run
  // PROBES it, instead of re-exploding the benchmark split per run
  // (q149 keeps the inline derivation because its oracle re-derives
  // too; this is the production layout next to it, spec-asserted in
  // StorageLayoutSpec). Write-once per (JVM, source dir) like q65/q77.
  private val benchGramDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Returns the dir-qualified bucketed gram-table name. */
  private[graft] def ensureBenchGramTable(s: SparkSession, dir: String): String = synchronized {
    val dirKey = graft.BuildPaths.dirKey(dir)
    val tbl = s"graft_bench_grams_$dirKey"
    if (!(benchGramDirs.contains(dir) && s.catalog.tableExists(tbl))) {
      val root = graft.BuildPaths.scratch(s"bench_grams/$dirKey")
      T(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 20 === 0)
        .select(col("lang"), explode(expr("graft_shingle_hashes(text)")).as("g"))
        .distinct()
        .write.mode("overwrite")
        .bucketBy(8, "lang", "g").sortBy("lang", "g")
        .option("path", s"$root/$tbl")
        .format("parquet").saveAsTable(tbl)
      benchGramDirs.add(dir)
    }
    tbl
  }

  /** The q149 decontamination stage against the STORED gram table: per
    * lang, how many pool docs share any benchmark shingle. Two physical
    * shapes, both spec-asserted:
    *   - `merge = false` (benchmarks are tiny — the q149 default): the
    *     stored table BROADCASTS, the corpus probe side never shuffles;
    *   - `merge = true` (the full-eval-suite fallback when the gram set
    *     outgrows broadcast): sort-merge semi join where the bucketed
    *     gram side is read IN PLACE (zero exchange — the write-once
    *     bucketing pays for every later run) and only the per-run corpus
    *     side shuffles.
    */
  private[graft] def decontaminateStoredGrams(
      s: SparkSession, dir: String, merge: Boolean): DataFrame = {
    val tbl = ensureBenchGramTable(s, dir)
    val grams = s.table(tbl)
    val corpus = T(s, dir, "documents")
      .filter(col("text").isNotNull && col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), col("lang"),
        explode(expr("graft_shingle_hashes(text)")).as("g"))
    val probed =
      if (merge) corpus.join(grams.hint("merge"), Seq("lang", "g"), "left_semi")
      else corpus.join(broadcast(grams), Seq("lang", "g"), "left_semi")
    probed.select(col("doc_id"), col("lang")).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("n_contaminated"))
      .orderBy(col("lang"))
  }
}
