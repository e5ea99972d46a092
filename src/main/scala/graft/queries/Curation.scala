package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Round-15 curation/export operators: PII redaction (the rewrite the
  * governance family's q66 DETECTION feeds) and the shard-export
  * manifest (the step that turns a curated corpus into the numbered,
  * digest-pinned shards a training job actually mounts).
  *
  * Cross-engine determinism follows the repo contract: md5-derived
  * 60-bit hashes, integer arithmetic, explicit aliases, total ORDER BY.
  */
object Curation {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- q181 PII patterns: Java regex and RE2 agree on these (ASCII
  // classes, bounded quantifiers, \b word boundaries — no lookaround,
  // no backrefs). Declared as compile-time constants (final val
  // literals) so the oracle strings interpolate safely at object init.
  private[queries] final val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[queries] final val SsnPat = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  private[queries] final val PhonePat = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** The deterministic doc_id-keyed PII injection (q181's derived
    * corpus), shared with q190's ingest-side feed so the streaming
    * redactor sees the identical payloads the oracle recomputes. */
  private[queries] def piiInjectedText: org.apache.spark.sql.Column =
    piiInjectedOn(col("text"))

  /** Same injection over an arbitrary text column (q200 injects into the
    * markup-extracted body instead of the raw text). */
  private[queries] def piiInjectedOn(
      textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val idStr = col("doc_id").cast(StringType)
    concat(
      textCol,
      when(col("doc_id") % 4 === 0,
        concat(lit(" contact user"), idStr, lit("@ex-mail.org for access")))
        .when(col("doc_id") % 4 === 1,
          concat(lit(" call 555-310-"), lpad(idStr, 4, "0")))
        .when(col("doc_id") % 4 === 2,
          concat(lit(" ssn 219-09-"), lpad(idStr, 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 12 === 1,
        concat(lit(" or user"), idStr, lit("@alt-mail.net")))
        .otherwise(lit("")))
  }

  /** q181/q190's redaction chain (email → SSN → phone; patterns are
    * disjoint by construction, so the order cannot create or destroy
    * matches). */
  private[queries] def redactPii(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPat, "<EMAIL>"),
        SsnPat, "<SSN>"),
      PhonePat, "<PHONE>")

  /** The injection as oracle SQL over an arbitrary text expression. */
  private[queries] def piiInjectSqlOn(textExpr: String): String =
    PiiInjectSql.replace("text ||", s"$textExpr ||")

  /** The injection as oracle SQL over (doc_id, text) — interpolated into
    * both q181's and q190's DuckDB mirrors. */
  private[queries] final val PiiInjectSql: String =
    """text ||
      |    CASE
      |      WHEN doc_id % 4 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@ex-mail.org for access'
      |      WHEN doc_id % 4 = 1 THEN ' call 555-310-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
      |      WHEN doc_id % 4 = 2 THEN ' ssn 219-09-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 12 = 1 THEN ' or user' || CAST(doc_id AS VARCHAR) || '@alt-mail.net'
      |      ELSE '' END""".stripMargin

  // q182: 16 export shards — the WebDataset/tfrecord convention of a
  // fixed shard count per corpus snapshot.
  private[queries] final val Shards = 16

  // q183: contrastive batch size (the in-batch-negatives granularity).
  private final val BatchSize = 32

  // q188: k-anonymity threshold and the quasi-identifier length-bucket
  // width (chars).
  private final val KAnonK = 5
  private final val KAnonBucketW = 100

  // q193: curriculum stage thresholds (distinct-token-ratio micros) —
  // epoch 1 cleanest slice, epoch 2 widens, epoch 3 everything.
  private val CurriculumStages: Seq[Long] = Seq(800000L, 650000L, 0L)

  // q185: length-bucket width (tokens) and batch size for the padding
  // study. Bucket = n_tok DIV 8 — fine enough that the fixture's ~40-70
  // token docs spread over several buckets.
  private final val LenBucketW = 8
  private final val LenBatch = 16

  // q203: the deterministic range-read probe — a trainer resuming from
  // a checkpoint fetches a SLICE of specific shards, never the corpus.
  // Shards listed as one SQL fragment (single source for both engines);
  // ord window is inclusive. Declared before `defs` (val-init order).
  private final val RangeShardsSql = "3, 7, 11"
  private final val RangeOrdLo = 5
  private final val RangeOrdHi = 24

  // q211: export block (zone-map) index — BrinBlock docs per block maps
  // to "one parquet row group" in a production export; the probe rule
  // picks a deterministic ~4% of doc_ids as point lookups.
  private final val BrinBlock = 8
  private final val ProbeMod = 23
  private final val ProbeRes = 5

  // q214: preference-pair construction — groups are (source, token-
  // length band of PrefBucketW), a pair ships only when the quality
  // margin clears PrefMarginMin micros (5 pp of distinct-token ratio).
  private final val PrefBucketW = 16
  private final val PrefMarginMin = 50000L

  // q223: the resume window — global epoch-2 positions (inclusive) a
  // restarted trainer re-fetches.
  private final val ResumeLo = 101
  private final val ResumeHi = 140

  val defs: Seq[QueryDef] = Seq(

    // ---- q181 (round 15): PII REDACTION — the rewrite half of
    // governance (q66 detects and counts; production must also SHIP a
    // cleaned corpus): emails / SSNs / phone numbers are replaced with
    // typed placeholder tokens and the rewrite is pinned byte-for-byte
    // by md5, so a drifting regex or a wrong replacement order
    // hash-fails, not just a count. The fixture text is PII-free, so
    // the corpus is DERIVED: deterministic doc_id-keyed suffixes
    // inject each PII type (and every 12th doc two types) identically
    // in both engines — the q174 derived-corpus convention. Patterns
    // are chosen to be disjoint (3-3-4 phone vs 3-2-4 SSN groups;
    // emails carry no dash-separated digit runs), so replacement order
    // cannot create or destroy matches — documented, and the md5 pin
    // would catch it if the injection ever violated that. 100 TB
    // shape: perfectly scan-local — three codegen'd regexp passes per
    // row, zero shuffles before the presentation sort; this is the
    // shape PII scrubbing must have, because it runs over EVERY byte
    // of the corpus. ----
    QueryDef("q181_pii_redaction", piiRedactionOracle) { (s, dir) =>
      val pii = piiInjectedText
      val redacted = redactPii(pii)
      Tables.loadSpread(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          regexp_count(pii, lit(EmailPat)).cast(LongType).as("n_email"),
          regexp_count(pii, lit(SsnPat)).cast(LongType).as("n_ssn"),
          regexp_count(pii, lit(PhonePat)).cast(LongType).as("n_phone"),
          md5(redacted).as("redacted_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- q182 (round 15): SHARD-EXPORT MANIFEST — the last hop of
    // every curation pipeline (q159 fixes the epoch ORDER; this fixes
    // the LAYOUT): each doc lands in shard h60(doc_id) mod 16, docs
    // within a shard are ordered by (hash, doc_id) — the same
    // content-free salted order q159 established — and the manifest
    // row per shard carries doc/token/byte counts, the running byte
    // offset of the shard in the concatenated export, and an
    // ORDER-SENSITIVE membership digest (md5 over the ordered doc_id
    // list), so a dropped doc, a reassigned doc, or a reordering
    // inside any shard hash-fails. 100 TB shape: ONE hash-keyed
    // shuffle (the irreducible export partitioning — this query IS
    // the shuffle a sharded write performs), per-shard digests are the
    // reassembly aggregate, and the offset scan is a window over
    // #shards rows. Balanced by construction: md5 spreads doc_ids
    // uniformly, no skew key exists. ----
    QueryDef("q182_shard_manifest", shardManifestOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType)
      val docs = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"), h.as("h"), (h % Shards).as("shard"))
      // n_bytes is the UTF-8 octet length (r15 ADVICE: length() counts
      // code points, so the running offsets of any non-ASCII corpus
      // would not match a real concatenated byte export; the export
      // format is exact concatenation of document bytes, offsets in
      // the manifest).
      val perShard = docs
        .select(col("shard"), col("h"), col("doc_id"),
          size(split(lower(col("text")), " ")).cast(LongType).as("n_tok"),
          expr("octet_length(text)").cast(LongType).as("n_byt"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("n_byt")).as("n_bytes"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("h"), col("doc_id")))),
              x => x.getField("doc_id").cast(StringType)),
            ",")).as("manifest_md5"))
      // Running byte offset of each shard in the concatenated export:
      // a window over exactly `Shards` rows (post-aggregation, bytes).
      val w = Window.orderBy(col("shard"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
      perShard
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_bytes"),
          coalesce(sum(col("n_bytes")).over(w), lit(0L)).as("byte_offset"),
          col("manifest_md5"))
        .orderBy(col("shard"))
    },

    // ---- q183 (round 15): CONTRASTIVE BATCH construction audit — the
    // in-batch-negatives data op behind every embedding-model training
    // run (batches ARE the negative-sampling distribution: two
    // same-label vectors landing in one batch become a FALSE negative
    // that actively teaches the wrong thing). Vectors land in batch
    // h60('cb:'||vec_id) mod ceil(N/32) — the deterministic shuffle-
    // into-batches q159 established for docs, applied at batch
    // granularity — and each batch row audits its size, its pair
    // count, and its label-collision count (Σ c·(c−1)/2 over same-
    // label groups), with the collision rate in integer micros. 100 TB
    // shape: assignment is scan-local arithmetic; the ONE keyed
    // aggregation runs (batch, label) then batch — no pair
    // enumeration anywhere (the c·(c−1)/2 closed form replaces the
    // within-batch self-join); the batch count rides an audited 1-row
    // broadcast (the q133 corpus-total shape). ----
    QueryDef("q183_contrastive_batches", contrastiveBatchesOracle) { (s, dir) =>
      val vecs = T(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          conv(substring(md5(concat(lit("cb:"), col("vec_id").cast(StringType))), 1, 15), 16, 10)
            .cast(LongType).as("h"))
      val nb = vecs.agg(expr(s"greatest(count(1) DIV $BatchSize, 1)").as("nb"))
      val byLabel = vecs.crossJoin(broadcast(nb))
        .select(pmod(col("h"), col("nb")).as("batch"), col("label"))
        .groupBy(col("batch"), col("label"))
        .agg(count(lit(1)).as("c"))
      byLabel.groupBy(col("batch"))
        .agg(sum(col("c")).cast(LongType).as("n_vecs"),
          sum(expr("(c * (c - 1)) DIV 2")).cast(LongType).as("n_collisions"))
        .select(col("batch"), col("n_vecs"),
          expr("(n_vecs * (n_vecs - 1)) DIV 2").as("n_pairs"),
          col("n_collisions"),
          when(col("n_vecs") > 1,
            expr("(n_collisions * 1000000) DIV ((n_vecs * (n_vecs - 1)) DIV 2)"))
            .otherwise(lit(0L)).as("collision_micro"))
        .orderBy(col("batch"))
    },

    // ---- q184 (round 15): SPAN-CORRUPTION objective construction
    // (T5 / UL2 denoising) — the op that turns a clean corpus into
    // (input-with-sentinels, target) training pairs: deterministic
    // hash-selected 3-token spans (one per 20-token block, offset
    // h60('sc:'||doc_id||':'||block) mod 18 — non-overlapping BY
    // CONSTRUCTION, so there is no sequential greedy dependency and
    // every position's mask decision is scan-local arithmetic),
    // sentinels numbered per doc in block order, input = unmasked
    // tokens with each span collapsed to its sentinel, target =
    // sentinel-prefixed masked spans — BOTH rebuilt and pinned
    // byte-for-byte by md5 (the even/odd position-key trick keeps one
    // integer sort key: tokens at 2·pos, sentinels at 2·s0−1). A
    // wrong span boundary, a misnumbered sentinel, or a dropped
    // token hash-fails. 100 TB shape: mask decisions scan-local; the
    // span index is #blocks-sized (~n/20 per doc); reassembly is the
    // irreducible doc-keyed groupBy; output rows = #docs. ----
    QueryDef("q184_span_corruption", spanCorruptionOracle) { (s, dir) =>
      // (Round 22 note: a Tables.loadSpread here — parallelizing the
      // token explode + block-md5 pipeline and clustering the caches on
      // doc_id — was A/B-measured NEGATIVE twice (1.89/1.95 -> 2.89/2.20
      // s subset): the doc_id-hash shuffle of the full text costs more
      // than the serial cache fill it parallelizes, the q180 result.
      // Reverted; not worth retrying at this SF. A per-doc offset ARRAY
      // (one md5 per block instead of per token, element_at in the
      // explode) also measured neutral over 4 cycles AND is worse
      // asymptotically — explode copies the #blocks-sized array per
      // token row, O(tokens x blocks) per doc. Keep the per-token md5:
      // scan-local and scale-safe.)
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
        .persist() // feeds the word stream + the output spine
      val words = d
        .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "w")))
        .select(col("doc_id"), (col("p0") + 1).cast(LongType).as("pos"), col("w"))
        .withColumn("block", expr("(pos - 1) DIV 20"))
        .withColumn("off",
          pmod(conv(substring(md5(concat(lit("sc:"), col("doc_id").cast(StringType),
            lit(":"), col("block").cast(StringType))), 1, 15), 16, 10).cast(LongType),
            lit(18L)))
        .withColumn("masked",
          expr("(pos - 1) % 20").between(col("off"), col("off") + 2))
        .persist() // feeds spans + input stream + target stream + counts
      val spans = words.filter(col("masked"))
        .groupBy(col("doc_id"), col("block"))
        .agg(min(col("pos")).as("s0"), count(lit(1)).as("n_in_span"))
        .withColumn("span_k",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("block"))).cast(LongType))
        .persist() // feeds sentinel rows in BOTH streams + span counts
      val sentinel = concat(lit("<extra_id_"), col("span_k").cast(StringType), lit(">"))
      val inputRows = words.filter(!col("masked"))
        .select(col("doc_id"), (col("pos") * 2).as("k"), col("w"))
        .unionByName(spans.select(col("doc_id"), (col("s0") * 2 - 1).as("k"),
          sentinel.as("w")))
      val inputAgg = inputRows.groupBy(col("doc_id"))
        .agg(md5(array_join(
          transform(array_sort(collect_list(struct(col("k"), col("w")))),
            x => x.getField("w")), " ")).as("input_md5"))
      // Target stream key is the STRUCT (span_k, pos) — sentinels sort
      // first within their span at pos 0 (r15 ADVICE: the former packed
      // span_k*1e6+pos integer silently misordered docs with >= 1e6
      // token positions; the struct key has no document-length bound).
      val targetRows = words.filter(col("masked"))
        .join(spans.select(col("doc_id"), col("block"), col("span_k")),
          Seq("doc_id", "block"))
        .select(col("doc_id"), col("span_k").as("k1"), col("pos").as("k2"), col("w"))
        .unionByName(spans.select(col("doc_id"), col("span_k").as("k1"),
          lit(0L).as("k2"), sentinel.as("w")))
      val targetAgg = targetRows.groupBy(col("doc_id"))
        .agg(md5(array_join(
          transform(array_sort(collect_list(struct(col("k1"), col("k2"), col("w")))),
            x => x.getField("w")), " ")).as("target_md5"))
      val spanStats = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"), sum(col("n_in_span")).cast(LongType).as("n_masked"))
      d.select(col("doc_id"), size(col("ws")).cast(LongType).as("n_tokens"))
        .join(spanStats, Seq("doc_id"), "left")
        .join(inputAgg, Seq("doc_id"), "left")
        .join(targetAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_masked"), lit(0L)).as("n_masked"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("input_md5"), md5(lit(""))).as("input_md5"),
          coalesce(col("target_md5"), md5(lit(""))).as("target_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- q185 (round 15): LENGTH-BUCKETED BATCHING — the padding-
    // efficiency study every fixed-shape training run needs (a batch
    // pads every sequence to its longest member; batching short docs
    // with long ones burns FLOPs on pad tokens): docs are batched two
    // ways from the SAME deterministic hash — within length buckets
    // (n_tok DIV 8) and globally (the bucket=-1 control row) — and
    // each bucket row reports its doc/batch counts, real tokens,
    // padding waste Σ(max_len·size − Σlen) and the integer-micro
    // waste fraction, quantifying exactly what bucketing buys. 100 TB
    // shape: length + hash are scan-local; the per-bucket batch
    // counts are a #buckets-row broadcast dictionary; batch stats are
    // ONE keyed aggregation — no sorting of the corpus anywhere (the
    // point: length-grouped batching WITHOUT a global length sort);
    // the global control's batch count rides the audited 1-row
    // broadcast (q133/q183 shape). ----
    QueryDef("q185_length_batching", lengthBatchingOracle) { (s, dir) =>
      val docs = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(lower(col("text")), " ")).cast(LongType).as("n_tok"),
          conv(substring(md5(concat(lit("lb:"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
            .cast(LongType).as("h"))
        .persist() // feeds the bucketed leg + the global control leg
      val bucketed = docs.withColumn("bucket", expr(s"n_tok DIV $LenBucketW"))
      val bCounts = bucketed.groupBy(col("bucket"))
        .agg(expr(s"greatest(count(1) DIV $LenBatch, 1)").as("nb"))
      val bAssigned = bucketed
        .join(broadcast(bCounts), Seq("bucket"))
        .select(col("bucket"), pmod(col("h"), col("nb")).as("batch"), col("n_tok"))
      val gN = docs.agg(expr(s"greatest(count(1) DIV $LenBatch, 1)").as("nb"))
      val gAssigned = docs.crossJoin(broadcast(gN))
        .select(lit(-1L).as("bucket"), pmod(col("h"), col("nb")).as("batch"), col("n_tok"))
      bAssigned.unionByName(gAssigned)
        .groupBy(col("bucket"), col("batch"))
        .agg(count(lit(1)).as("sz"), max(col("n_tok")).as("mx"),
          sum(col("n_tok")).cast(LongType).as("sm"))
        .groupBy(col("bucket"))
        .agg(sum(col("sz")).cast(LongType).as("n_docs"),
          count(lit(1)).as("n_batches"),
          sum(col("sm")).cast(LongType).as("sum_tokens"),
          sum(col("mx") * col("sz") - col("sm")).cast(LongType).as("padding_waste"))
        .select(col("bucket"), col("n_docs"), col("n_batches"),
          col("sum_tokens"), col("padding_waste"),
          expr("(padding_waste * 1000000) DIV (sum_tokens + padding_waste)")
            .as("waste_micro"))
        .orderBy(col("bucket"))
    },

    // ---- q186 (round 15): DATA-CONSTRAINED REPEAT-EPOCH planning
    // (Muennighoff et al. 2023, "Scaling Data-Constrained Language
    // Models") — when the compute budget exceeds the unique corpus,
    // the mixture question becomes "how many EPOCHS of each source?":
    // budget B = 3× total tokens, allocated uniformly per source (the
    // rebalancing that upweights small high-value sources), epochs
    // capped at 4 (the paper's ~4-epoch usefulness cliff; beyond it
    // repeated data adds ~nothing). Per source: unique tokens, target
    // allocation, integer-micro epochs, effective (repeated) tokens,
    // the cap flag, and the shortfall a production allocator would
    // redistribute iteratively (one-pass allocation is the
    // deterministic core; the leftover column makes the residual
    // visible rather than hiding the cap's bite). 100 TB shape: ONE
    // source-keyed aggregate (#sources rows — dictionary-sized at any
    // corpus), the corpus total on the audited 1-row broadcast, all
    // arithmetic integer. ----
    QueryDef("q186_repeat_epochs", repeatEpochsOracle) { (s, dir) =>
      repeatEpochPlan(s, dir)
        .select(col("source"), col("tokens"), col("target_tokens"),
          col("epochs_micro"),
          expr("(tokens * epochs_micro) DIV 1000000").as("effective_tokens"),
          expr("CAST(epochs_micro = 4000000 AS INT)").as("capped"),
          expr("greatest(target_tokens - (tokens * epochs_micro) DIV 1000000, 0)")
            .as("shortfall"))
        .orderBy(col("source"))
    },

    // ---- q188 (round 15): K-ANONYMITY GENERALIZATION — the FIX
    // operator for q163's check (q163 reports which quasi-identifier
    // groups are re-identifiable; a release pipeline must then COARSEN
    // the metadata until none are): the classic Samarati full-domain
    // lattice walk over (lang, source, len-bucket) — L0 keeps all
    // three, L1 drops the length bucket, L2 drops source, L3 is fully
    // suppressed — choosing the LOWEST level whose every group has
    // ≥ k=5 members (on this corpus: L0 min=1, L1 min=1, L2 min=64 →
    // publish at L2), and emitting the published groups with '*' for
    // generalized attributes. Deterministic: the lattice order is
    // fixed, the decision is a pure function of the level minima.
    // 100 TB shape: the corpus is scanned ONCE into the L0 dictionary
    // (≤ |langs|·|sources|·|buckets| rows); every higher level
    // aggregates L0, never the corpus; the four level minima ride ONE
    // audited 1-row broadcast; output is the chosen level's
    // dictionary-sized group table. ----
    QueryDef("q188_kanon_generalize", kanonGeneralizeOracle) { (s, dir) =>
      val l0 = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), col("source"),
          expr(s"n_chars DIV $KAnonBucketW").as("b"))
        .groupBy(col("lang"), col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
        .persist() // the ONE corpus-derived dictionary; feeds every level
      val l1 = l0.groupBy(col("lang"), col("source"))
        .agg(sum(col("c")).cast(LongType).as("c")).persist()
      val l2 = l0.groupBy(col("lang"))
        .agg(sum(col("c")).cast(LongType).as("c")).persist()
      val mins = l0.agg(min(col("c")).as("m0")).crossJoin(
          l1.agg(min(col("c")).as("m1"))).crossJoin(
          l2.agg(min(col("c")).as("m2")))
        .select(
          when(col("m0") >= KAnonK, lit(0))
            .when(col("m1") >= KAnonK, lit(1))
            .when(col("m2") >= KAnonK, lit(2))
            .otherwise(lit(3)).as("lvl"))
      val pick = broadcast(mins)
      val leg0 = l0.crossJoin(pick).filter(col("lvl") === 0)
        .select(col("lvl"), col("lang").as("lang_g"), col("source").as("source_g"),
          col("b").cast(StringType).as("bucket_g"), col("c").cast(LongType).as("n_docs"))
      val leg1 = l1.crossJoin(pick).filter(col("lvl") === 1)
        .select(col("lvl"), col("lang").as("lang_g"), col("source").as("source_g"),
          lit("*").as("bucket_g"), col("c").as("n_docs"))
      val leg2 = l2.crossJoin(pick).filter(col("lvl") === 2)
        .select(col("lvl"), col("lang").as("lang_g"), lit("*").as("source_g"),
          lit("*").as("bucket_g"), col("c").as("n_docs"))
      val leg3 = l0.agg(sum(col("c")).cast(LongType).as("n_docs")).crossJoin(pick)
        .filter(col("lvl") === 3)
        .select(col("lvl"), lit("*").as("lang_g"), lit("*").as("source_g"),
          lit("*").as("bucket_g"), col("n_docs"))
      leg0.unionByName(leg1).unionByName(leg2).unionByName(leg3)
        .orderBy(col("lang_g"), col("source_g"), col("bucket_g"))
    },

    // ---- q193 (round 15): QUALITY-STAGED CURRICULUM SCHEDULE — the
    // schedule table a staged training run consumes (start on the
    // cleanest slice, widen each epoch — the curriculum-learning data
    // op): epoch 1 trains on docs with distinct-token ratio ≥ 0.80,
    // epoch 2 widens to ≥ 0.65, epoch 3 takes everything; each epoch's
    // set is shuffled by its OWN salt (q159's epoch re-keying) into 16
    // shards. One row per epoch pins the stage: doc/token counts (the
    // nesting e1 ⊆ e2 ⊆ e3 is visible as monotone counts), an
    // order-free membership checksum, and an ORDER checksum
    // Σ pos·doc_id summed across shards (order-sensitive within each
    // shard, the q159 rule) — so a drifting score, a wrong stage cut,
    // or a broken permutation all hash-fail. 100 TB shape: scoring is
    // scan-local (one pass, persisted for the three stage filters);
    // each epoch's window sorts corpus/16 rows per shard (the q159
    // seekable-shards argument); output is 3 rows. ----
    QueryDef("q193_curriculum_schedule", curriculumOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val scored = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("ws", split(lower(col("text")), " "))
        .select(col("doc_id"),
          size(col("ws")).cast(LongType).as("n_tok"),
          expr("CAST(round(CAST(size(array_distinct(ws)) AS DOUBLE) / size(ws) * 1000000, 0) AS BIGINT)")
            .as("score_micro"))
        .persist() // one scoring pass feeds all three stage filters
      val epochs = CurriculumStages.zipWithIndex.map { case (thresh, i) =>
        val e = i + 1
        val hkey = conv(substring(md5(concat(lit(s"e$e:"),
          col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType)
        val stage = scored.filter(col("score_micro") >= thresh)
          .select(col("doc_id"), col("n_tok"), hkey.as("hkey"))
          .withColumn("shard", pmod(col("hkey"), lit(16L)))
        val w = Window.partitionBy(col("shard")).orderBy(col("hkey"), col("doc_id"))
        stage.withColumn("pos", row_number().over(w).cast(LongType))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast(LongType).as("n_tokens"),
            sum(pmod(conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
              .cast(LongType), lit(1000000007L))).cast(LongType).as("member_checksum"),
            sum(col("pos") * col("doc_id")).cast(LongType).as("order_checksum"))
          .select(lit(e).as("epoch"), lit(thresh).as("min_score_micro"),
            col("n_docs"), col("n_tokens"), col("member_checksum"),
            col("order_checksum"))
      }
      epochs.reduce(_ unionByName _).orderBy(col("epoch"))
    },

    // ---- q195 (round 15): CORPUS SNAPSHOT DIFF — the release-to-
    // release changelog every versioned dataset ships (what entered,
    // what left, what changed — the reproducibility contract behind
    // "trained on corpus vX"): two snapshots are derived
    // deterministically from the fixture (v1 = the previous release:
    // docs with doc_id%11=5 not yet collected, docs with doc_id%13=7
    // then-truncated to their first half; v2 = the current release:
    // docs with doc_id%19=2 since removed), diffed by doc_id with
    // content digests deciding changed-vs-unchanged. Per source:
    // sizes, added/removed/changed/unchanged counts, and an additive
    // membership checksum of the ADDED set (the audit trail a
    // downstream consumer re-verifies). 100 TB shape: both views are
    // scan-local derivations of ONE persisted base scan; the diff is
    // one doc-keyed full-outer self-join; the report is a
    // #sources-row aggregate. ----
    QueryDef("q195_snapshot_diff", snapshotDiffOracle) { (s, dir) =>
      val base = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("text"),
          split(lower(col("text")), " ").as("ws"))
        .persist() // one corpus scan feeds both snapshot derivations
      val v1 = base.filter(col("doc_id") % 11 =!= 5)
        .select(col("doc_id"), col("source"),
          md5(when(col("doc_id") % 13 === 7,
            array_join(slice(col("ws"), lit(1),
              (size(col("ws")) / 2).cast(IntegerType)), " "))
            .otherwise(col("text"))).as("d1"))
      val v2 = base.filter(col("doc_id") % 19 =!= 2)
        .select(col("doc_id"), col("source").as("source2"), md5(col("text")).as("d2"))
      val j = v1.join(v2, Seq("doc_id"), "full_outer")
        .select(coalesce(col("source"), col("source2")).as("source"),
          col("d1"), col("d2"), col("doc_id"))
      j.groupBy(col("source"))
        .agg(
          sum(when(col("d1").isNotNull, 1L).otherwise(0L)).as("n_v1"),
          sum(when(col("d2").isNotNull, 1L).otherwise(0L)).as("n_v2"),
          sum(when(col("d1").isNull, 1L).otherwise(0L)).as("n_added"),
          sum(when(col("d2").isNull, 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("d1").isNotNull && col("d2").isNotNull
            && col("d1") =!= col("d2"), 1L).otherwise(0L)).as("n_changed"),
          sum(when(col("d1") === col("d2"), 1L).otherwise(0L)).as("n_unchanged"),
          sum(when(col("d1").isNull,
            pmod(conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
              .cast(LongType), lit(1000000007L))).otherwise(lit(0L)))
            .cast(LongType).as("added_checksum"))
        .orderBy(col("source"))
    },

    // ---- q199 (round 15): PER-SOURCE DATA CARD — the one-page
    // artifact that SHIPS with a dataset release (Datasheets for
    // Datasets / model-card practice, public): per source, the facts
    // a consumer checks before training — volume (docs/tokens/mean
    // length), quality (mean distinct-token ratio in integer micros),
    // exact-duplicate exposure (docs whose full-text digest appears
    // more than once CORPUS-wide — cross-source copies count, which
    // is why the dup profile is a corpus question, not a per-source
    // one), and language composition (modal lang + its share, argmax
    // via struct-max with the deterministic tie rule). Composes the
    // repo's primitive metrics into the governance summary table —
    // every number integer or once-rounded, so the card itself is
    // hash-gated like any operator. 100 TB shape: ONE corpus scan
    // (persisted) feeds the digest dedup, the lang mode, and the
    // per-source rollup; the dup set is a digest-keyed aggregate
    // joined back UNHINTED on the 16-byte digest key — on a real
    // crawl duplicates are routinely 20-50% of documents, so a
    // broadcast hint here would driver-materialize gigabytes; AQE
    // picks broadcast on its own when the set is actually small
    // (r15 VERDICT #2). Output #sources rows. ----
    QueryDef("q199_data_card", dataCardOracle) { (s, dir) =>
      val base = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("ws", split(lower(col("text")), " "))
        .select(col("doc_id"), col("source"), col("lang"),
          size(col("ws")).cast(LongType).as("n_tok"),
          expr("CAST(round(CAST(size(array_distinct(ws)) AS DOUBLE) / size(ws) * 1000000, 0) AS BIGINT)")
            .as("score_micro"),
          md5(col("text")).as("dg"))
        .persist() // one corpus scan feeds dup set, lang mode, rollup
      val dupDigests = base.groupBy(col("dg"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).select(col("dg"))
      val flagged = base.join(dupDigests.withColumn("isdup", lit(1L)),
        Seq("dg"), "left")
      val langMode = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("lc"))
        .groupBy(col("source"))
        .agg(max(struct(col("lc"), col("lang"))).as("m"))
        .select(col("source"), col("m.lang").as("top_lang"),
          col("m.lc").as("top_lang_docs"))
      flagged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast(LongType).as("n_tokens"),
          sum(col("score_micro")).as("sq"),
          sum(coalesce(col("isdup"), lit(0L))).cast(LongType).as("dup_docs"))
        .join(langMode, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("n_tokens DIV n_docs").as("avg_tokens"),
          expr("sq DIV n_docs").as("mean_quality_micro"),
          col("dup_docs"),
          expr("(dup_docs * 1000000) DIV n_docs").as("dup_rate_micro"),
          col("top_lang"),
          expr("(top_lang_docs * 1000000) DIV n_docs").as("top_lang_share_micro"))
        .orderBy(col("source"))
    },

    // ---- q201 (round 16): MATERIALIZED SHARD EXPORT — the files
    // q182's manifest describes (r15 VERDICT "What's missing" #3: a
    // real pipeline mounts shards, not manifests). ensureShardExport
    // WRITES the corpus once as parquet partitioned by shard — each
    // shard produced by ONE task in (h, doc_id) order with an explicit
    // ord column, so the stream a trainer mounts is re-derivable
    // without relying on read order — and this query READS THE FILES
    // BACK, re-deriving every per-shard stat and the membership digest
    // from the written rows, then reconciles against a manifest
    // computed fresh from the SOURCE table (q182's exact rule). A
    // dropped doc, a reordered row, or a corrupted text roundtrip
    // makes file_md5 diverge from manifest_md5 and the oracle's
    // is_match=1 pin hash-fails. 100 TB shape: the write is the ONE
    // irreducible export shuffle (hash-keyed, skew-free by md5);
    // reconciliation is two shard-keyed aggregates joined on #shards
    // rows; shard count scales with the corpus (16 is the fixture's
    // convention). ----
    QueryDef("q201_export_shards", exportShardsOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val root = ensureShardExport(s, dir)
      val fileSide = s.read.parquet(root)
        .select(col("shard").cast(LongType).as("shard"), col("ord"),
          col("doc_id"), col("text"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("octet_length(text)")).cast(LongType).as("n_bytes"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("ord"), col("doc_id")))),
              x => x.getField("doc_id").cast(StringType)),
            ",")).as("file_md5"))
      val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType)
      val manifest = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard", (col("h") % Shards).cast(LongType))
        .groupBy(col("shard"))
        .agg(md5(array_join(
          transform(array_sort(collect_list(struct(col("h"), col("doc_id")))),
            x => x.getField("doc_id").cast(StringType)),
          ",")).as("manifest_md5"))
      val w = Window.orderBy(col("shard"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
      fileSide.join(manifest, Seq("shard"))
        .select(col("shard"), col("n_docs"), col("n_bytes"),
          coalesce(sum(col("n_bytes")).over(w), lit(0L)).as("byte_offset"),
          col("file_md5"), col("manifest_md5"),
          (col("file_md5") === col("manifest_md5")).cast(IntegerType).as("is_match"))
        .orderBy(col("shard"))
    },

    // ---- q202 (round 16): MATERIALIZED CRAWL EXPORT — q200's capstone
    // ships BYTES: ensureCrawlExport writes the curated keep set
    // (extract → redact → gate → dedup, the exact q200 chain via the
    // shared Pipeline.crawlKeptDocs) as shard-partitioned parquet, and
    // this query reads the files back, re-deriving doc entries
    // (doc_id:md5(text)) AND token counts from the WRITTEN text — so
    // the check covers the full text roundtrip, not just ids — then
    // reconciles against the manifest recomputed from the source
    // chain. The oracle re-runs q200's CTE chain and pins
    // file_md5 = manifest_md5 and is_match = 1. 100 TB shape:
    // identical to q201 — one export shuffle, shard-keyed
    // reconciliation aggregates. ----
    QueryDef("q202_crawl_export", crawlExportOracle) { (s, dir) =>
      val root = ensureCrawlExport(s, dir)
      val fileSide = s.read.parquet(root)
        .select(col("shard").cast(LongType).as("shard"), col("ord"),
          col("doc_id"), col("t"))
        .select(col("shard"), col("ord"), col("doc_id"),
          size(split(col("t"), " ")).cast(LongType).as("n_tok"),
          concat(col("doc_id").cast(StringType), lit(":"), md5(col("t"))).as("entry"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast(LongType).as("n_tokens"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("ord"), col("entry")))),
              x => x.getField("entry")),
            ",")).as("file_md5"))
      val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType)
      val manifest = Pipeline.crawlKeptDocs(s, dir)
        .select(col("doc_id"), h.as("h"),
          concat(col("doc_id").cast(StringType), lit(":"), md5(col("t"))).as("entry"))
        .withColumn("shard", (col("h") % Shards).cast(LongType))
        .groupBy(col("shard"))
        .agg(md5(array_join(
          transform(array_sort(collect_list(struct(col("h"), col("doc_id"), col("entry")))),
            x => x.getField("entry")),
          ",")).as("manifest_md5"))
      fileSide.join(manifest, Seq("shard"))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          col("file_md5"), col("manifest_md5"),
          (col("file_md5") === col("manifest_md5")).cast(IntegerType).as("is_match"))
        .orderBy(col("shard"))
    },

    // ---- q203 (round 16): EXPORT RANGE READ — the SERVE half of the
    // export story (q201 writes and verifies; a trainer then MOUNTS a
    // slice: "give me docs 5..24 of shards 3/7/11", the checkpoint-
    // resume access pattern). Reads ONLY the probed shard directories —
    // the filter on the partition column prunes at LISTING time
    // (PartitionFilters, StorageLayoutSpec-asserted), and the ord
    // column makes the slice addressable without relying on file
    // order. The oracle re-derives the same slice from the source
    // table by rank, so a mis-written ord, a reshuffled shard, or a
    // wrong partition layout hash-fails. 100 TB shape: touches
    // 3/#shards of the export and nothing else — O(slice), not
    // O(corpus); this is the property the whole export layout exists
    // to buy. ----
    QueryDef("q203_export_range_read", exportRangeReadOracle) { (s, dir) =>
      val root = ensureShardExport(s, dir)
      s.read.parquet(root)
        .filter(col("shard").isin(3, 7, 11) &&
          col("ord").between(RangeOrdLo, RangeOrdHi))
        .select(col("shard").cast(LongType).as("shard"), col("ord"),
          col("doc_id"), col("text"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("ord")).as("ord_lo"), max(col("ord")).as("ord_hi"),
          sum(expr("octet_length(text)")).cast(LongType).as("n_bytes"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("ord"), col("doc_id")))),
              x => x.getField("doc_id").cast(StringType)),
            ",")).as("slice_md5"))
        .orderBy(col("shard"))
    },

    // ---- q204 (round 16): EPOCH-SAMPLE MATERIALIZATION — q186
    // computes the repeat-epoch PLAN (epochs per source under a 3×
    // budget, capped at 4); this materializes ONE epoch under it: each
    // doc's multiplicity = floor(epochs) plus one extra copy iff its
    // salted hash falls under the fractional part — deterministic
    // Bernoulli via hash threshold, the q159 salting convention. Both
    // engines share the plan helper/CTE, so the sampler provably
    // consumes the plan the report states. Output per source: the
    // plan's epochs, doc/sampled-doc/sampled-token counts and an
    // order-free membership checksum weighted by multiplicity.
    // 100 TB shape: the plan is a #sources-row broadcast dictionary;
    // every doc decides its multiplicity SCAN-LOCALLY (no shuffle, no
    // sort, no RNG state); one source-keyed partial agg; output
    // #sources rows. ----
    QueryDef("q204_epoch_sample", epochSampleOracle) { (s, dir) =>
      val plan = repeatEpochPlan(s, dir)
        .select(col("source"), col("epochs_micro"))
      T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          size(split(lower(col("text")), " ")).cast(LongType).as("n_tok"))
        .join(broadcast(plan), Seq("source"))
        .withColumn("mult",
          expr("epochs_micro DIV 1000000") +
            (pmod(conv(substring(md5(concat(lit("ep:"),
              col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType),
              lit(1000000L)) < expr("epochs_micro % 1000000")).cast(LongType))
        .groupBy(col("source"), col("epochs_micro"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("mult")).cast(LongType).as("n_docs_sampled"),
          sum(col("mult") * col("n_tok")).cast(LongType).as("n_tokens_sampled"),
          sum(col("mult") *
            pmod(conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
              .cast(LongType), lit(1000000007L)))
            .cast(LongType).as("sample_checksum"))
        .orderBy(col("source"))
    },

    // ---- q206 (round 16): SNAPSHOT DISTRIBUTION DRIFT — the release
    // gate q195's changelog cannot answer: counts say WHAT changed,
    // not whether the new release still LOOKS like the old one. Per
    // source, the mean per-token log-likelihood ratio of v1 under
    // v1-vs-v2 hashed-unigram models (add-1 smoothed over 1024
    // buckets — the KL-style drift score, q155's DSIR machinery
    // pointed at release gating): r(b) = ln((c1+1)(T2+1024) /
    // ((c2+1)(T1+1024))) rounded ONCE to integer micros (the ln of a
    // ratio of exact integer products — both engines divide the same
    // doubles), drift = Σ_b c1(b)·r(b), mean = drift DIV T1. The
    // snapshots are q195's exact derivations, so the changelog and
    // the drift gate audit the SAME release pair. 100 TB shape:
    // feature hashing scan-local; both models are (source × 1024)-row
    // dictionaries; totals ride #sources-row broadcasts; output
    // #sources rows. ----
    QueryDef("q206_snapshot_drift", snapshotDriftScoreOracle) { (s, dir) =>
      val base = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("text"),
          split(lower(col("text")), " ").as("ws"))
      val v1t = base.filter(col("doc_id") % 11 =!= 5)
        .select(col("source"),
          when(col("doc_id") % 13 === 7,
            array_join(slice(col("ws"), lit(1),
              (size(col("ws")) / 2).cast(IntegerType)), " "))
            .otherwise(col("text")).as("t"))
      val v2t = base.filter(col("doc_id") % 19 =!= 2)
        .select(col("source"), col("text").as("t"))
      def buckets(df: DataFrame, cn: String): DataFrame = df
        .select(col("source"), explode(Pipeline.wordFeatColOn(col("t"))).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("source"),
          pmod(conv(substring(md5(col("w")), 1, 15), 16, 10).cast(LongType),
            lit(1024L)).as("b"))
        .groupBy(col("source"), col("b")).agg(count(lit(1)).as(cn))
      val c1 = buckets(v1t, "c1")
      val c2 = buckets(v2t, "c2")
      val t1 = c1.groupBy(col("source")).agg(sum(col("c1")).cast(LongType).as("t1"))
      val t2 = c2.groupBy(col("source")).agg(sum(col("c2")).cast(LongType).as("t2"))
      c1.join(c2, Seq("source", "b"), "full_outer")
        .na.fill(0L, Seq("c1", "c2"))
        .join(broadcast(t1), Seq("source"))
        .join(broadcast(t2), Seq("source"))
        .select(col("source"), col("t1"), col("t2"), col("c1"),
          expr("cast(round(ln(((c1 + 1) * (t2 + 1024)) / cast((c2 + 1) * (t1 + 1024) as double)) " +
            "* 1000000, 0) as bigint)").as("r_micro"))
        .groupBy(col("source"), col("t1"), col("t2"))
        .agg(sum(col("c1") * col("r_micro")).cast(LongType).as("drift_sum_micro"))
        .select(col("source"), col("t1").as("t1_tokens"), col("t2").as("t2_tokens"),
          col("drift_sum_micro"),
          when(col("t1") > 0, expr("drift_sum_micro DIV t1")).otherwise(lit(0L))
            .as("mean_drift_micro"))
        .orderBy(col("source"))
    },

    // ---- q208 (round 16): EPOCH-ORDER DECORRELATION — the dataloader
    // hygiene check behind q159's per-epoch re-shuffle: if two epochs'
    // training orders CORRELATE, the second epoch replays the first's
    // curriculum instead of re-sampling it (the failure mode of a
    // forgotten per-epoch salt — rho would be ~1e6, and this table
    // makes it a number). Each epoch's GLOBAL position = shard-offset
    // prefix + within-shard rank under q159's exact convention (salt
    // 'eN:', 64 shards, (hkey, doc_id) order — shards consumed in
    // order ARE the training sequence); per epoch pair: Spearman's
    // rho = 1 − 6·Σd²/(n(n²−1)) with Σd² exact integer and the ONE
    // division performed on identical exact-integer doubles in both
    // engines, rounded once to micros. Expected ≈ 0 on independent
    // salts. 100 TB shape: per epoch ONE shard-partitioned rank window
    // + a 64-row offset prefix (the q173/q182 pattern — no global
    // sort); the pair joins are doc-keyed; output 3 rows. (Σd² rides
    // int64 up to ~corpus 2e5 docs; beyond that a production run
    // computes the identical statistic per shard and averages —
    // documented, not needed at fixture scale.) ----
    QueryDef("q208_epoch_decorrelation", epochDecorrelationOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      def epochPos(e: Int): DataFrame = {
        val ranked = T(s, dir, "documents")
          .select(col("doc_id"),
            expr(s"cast(conv(substring(md5(concat('e$e:', doc_id)), 1, 15), 16, 10) as bigint)")
              .as("hkey"))
          .withColumn("shard", pmod(col("hkey"), lit(64L)))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("shard")).orderBy(col("hkey"), col("doc_id")))
            .cast(LongType))
        val offs = ranked.groupBy(col("shard")).agg(count(lit(1)).as("n"))
          .withColumn("off",
            coalesce(sum(col("n")).over(Window.orderBy(col("shard"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)),
              lit(0L)))
          .select(col("shard"), col("off"))
        ranked.join(broadcast(offs), Seq("shard"))
          .select(col("doc_id"), (col("off") + col("rk")).as("pos"))
      }
      val Seq(g1, g2, g3) = Seq(1, 2, 3).map(epochPos)
      def pairRho(label: String, a: DataFrame, b: DataFrame): DataFrame =
        a.select(col("doc_id"), col("pos").as("pa"))
          .join(b.select(col("doc_id"), col("pos").as("pb")), Seq("doc_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum((col("pa") - col("pb")) * (col("pa") - col("pb")))
              .cast(LongType).as("sum_d2"))
          .select(lit(label).as("pair"), col("n_docs"), col("sum_d2"),
            when(col("n_docs") > 1,
              lit(1000000L) - expr(
                "cast(round((6 * sum_d2) / cast(n_docs * (n_docs * n_docs - 1) as double) * 1000000, 0) as bigint)"))
              .otherwise(lit(1000000L)).as("rho_micro"))
      pairRho("1_2", g1, g2)
        .unionByName(pairRho("1_3", g1, g3))
        .unionByName(pairRho("2_3", g2, g3))
        .orderBy(col("pair"))
    },

    // ---- q209 (round 16): INCREMENTAL EXPORT APPEND — the lakehouse
    // lifecycle step q201 lacks (a real corpus grows AFTER the first
    // export; rewriting 100 TB per batch is not an option): the BASE
    // export holds docs with doc_id%10 != 7, a LATE batch appends the
    // %10 == 7 docs as per-shard DELTA files — no base rewrite — and
    // this query reads BOTH layers back, merges each shard by the
    // export's (h, doc_id) order across layers, and proves the merged
    // membership digest equals the FULL-rebuild manifest recomputed
    // from the source (the q165 SCD2 equivalence statement applied to
    // the export: append+merge ≡ rebuild, pinned by hash). 100 TB
    // shape: the append shuffles ONLY the batch; the base is never
    // rewritten or rescanned at write time; reconciliation is
    // shard-keyed aggregates over both layers. ----
    QueryDef("q209_export_append", exportAppendOracle) { (s, dir) =>
      val (baseRoot, deltaRoot) = ensureIncrementalExport(s, dir)
      def layer(root: String, tag: String): DataFrame =
        s.read.parquet(root)
          .select(col("shard").cast(LongType).as("shard"),
            col("h"), col("doc_id"), lit(tag).as("layer"))
      appendReconcile(s, dir,
        layer(baseRoot, "base").unionByName(layer(deltaRoot, "delta")))
    },

    // ---- q210 (round 16): EXPORT COMPACTION — the other half of the
    // append lifecycle (q209 accumulates per-shard delta files; a
    // compaction job periodically folds them back so range reads stay
    // one-file-per-shard): ensureCompactedExport reads BOTH layers and
    // rewrites each shard as a single layer in full (h, doc_id) order
    // with ord REASSIGNED 1..n — the q203 seekability contract
    // restored. This query reads the compacted files back and pins
    // (a) the membership digest still equals the full-rebuild
    // manifest (compaction loses nothing) and (b) ord is contiguous
    // per shard — min 1, max = count (the property a resume-by-offset
    // fetch depends on). 100 TB shape: compaction is per-shard work
    // (each task folds one shard's base+delta — the layers are
    // already co-partitioned by construction); reconciliation is
    // shard-keyed aggregates; output #shards rows. ----
    QueryDef("q210_export_compact", exportCompactOracle) { (s, dir) =>
      val root = ensureCompactedExport(s, dir)
      val fileSide = s.read.parquet(root)
        .select(col("shard").cast(LongType).as("shard"), col("ord"),
          col("h"), col("doc_id"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("ord")).as("ord_min"), max(col("ord")).as("ord_max"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("ord"), col("doc_id")))),
              x => x.getField("doc_id").cast(StringType)),
            ",")).as("compacted_md5"))
      val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType)
      val manifest = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard", (col("h") % Shards).cast(LongType))
        .groupBy(col("shard"))
        .agg(md5(array_join(
          transform(array_sort(collect_list(struct(col("h"), col("doc_id")))),
            x => x.getField("doc_id").cast(StringType)),
          ",")).as("manifest_md5"))
      fileSide.join(manifest, Seq("shard"))
        .select(col("shard"), col("n_docs"),
          (col("ord_min") === 1L && col("ord_max") === col("n_docs"))
            .cast(IntegerType).as("ord_contiguous"),
          col("compacted_md5"), col("manifest_md5"),
          (col("compacted_md5") === col("manifest_md5")).cast(IntegerType).as("is_match"))
        .orderBy(col("shard"))
    },

    // ---- q222 (round 16): MIXTURE ANNEALING SCHEDULE — the two-phase
    // data curriculum production runs actually use (early training
    // wants DIVERSITY: sample sources by token mass; the annealing
    // phase near the end upweights QUALITY — the mid-training recipe):
    // phase 1 weights each source by exact token count, phase 2 by its
    // quality mass (per-doc tokens × distinct-token-ratio micro — the
    // q193 scorer, so curriculum and anneal grade quality identically),
    // both normalized to integer micros against 1-row totals, with the
    // signed per-source shift reported. 100 TB shape: scoring is
    // scan-local, ONE source-keyed aggregation feeds both phases, the
    // totals ride audited 1-row broadcasts; output 2×#sources rows. ----
    QueryDef("q222_mixture_anneal", mixtureAnnealOracle) { (s, dir) =>
      val perSource = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("ws", split(lower(col("text")), " "))
        .select(col("source"),
          size(col("ws")).cast(LongType).as("n_tok"),
          expr("CAST(round(CAST(size(array_distinct(ws)) AS DOUBLE) / size(ws) * 1000000, 0) AS BIGINT)")
            .as("score_micro"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).cast(LongType).as("tokens"),
          sum(col("n_tok") * col("score_micro")).cast(LongType).as("mass"))
      val tot = perSource.agg(sum(col("tokens")).cast(LongType).as("t_tok"),
        sum(col("mass")).cast(LongType).as("t_mass"))
      perSource.crossJoin(broadcast(tot))
        .select(col("source"), col("tokens"), col("mass"),
          // Zero-guarded (the r15 ADVICE divisor class): an all-empty
          // corpus has t_tok = t_mass = 0 — Spark DIV yields NULL,
          // DuckDB // errors; both engines now agree on 0.
          when(col("t_tok") > 0, expr("(tokens * 1000000) DIV t_tok"))
            .otherwise(lit(0L)).as("w1_micro"),
          when(col("t_mass") > 0, expr("(mass * 1000000) DIV t_mass"))
            .otherwise(lit(0L)).as("w2_micro"))
        .select(col("source"), col("tokens"), col("mass"),
          col("w1_micro"), col("w2_micro"),
          (col("w2_micro") - col("w1_micro")).as("shift_micro"))
        .orderBy(col("source"))
    },

    // ---- q223 (round 16): EXACT DATALOADER RESUME — the serving twin
    // of q159/q208 (a preempted trainer restarts at global step S and
    // must see EXACTLY the docs it would have seen — silent overlap
    // repeats data, silent gaps skip it): global positions come from
    // the q208 derivation (64-row shard-offset prefix + within-shard
    // rank over the epoch-2 salt — no global sort anywhere), the
    // resume window [RESUME_LO, RESUME_HI] filters to one slice, and
    // the output pins the slice's size, bounds, and order-sensitive
    // membership digest. 100 TB shape: the offset dictionary is 64
    // rows, the rank window is shard-partitioned, the window filter
    // prunes before the presentation sort — O(slice) output with no
    // corpus-wide ordering step. ----
    QueryDef("q223_dataloader_resume", dataloaderResumeOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val hkey = conv(substring(md5(concat(lit("e2:"),
        col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType)
      val ranked = T(s, dir, "documents")
        .select(col("doc_id"), hkey.as("hkey"))
        .withColumn("shard", pmod(col("hkey"), lit(64L)))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("hkey"), col("doc_id")))
          .cast(LongType))
      val offs = ranked.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"))
        .withColumn("off", sum(col("n")).over(
          Window.orderBy(col("shard"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("n"))
        .select(col("shard"), col("off"))
      ranked.join(broadcast(offs), Seq("shard"))
        .select(col("doc_id"), (col("off") + col("rk")).as("pos"))
        .filter(col("pos").between(ResumeLo, ResumeHi))
        .agg(count(lit(1)).as("n_docs"),
          min(col("pos")).as("pos_lo"), max(col("pos")).as("pos_hi"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("doc_id")))),
              x => x.getField("doc_id").cast(StringType)),
            ",")).as("slice_md5"))
        .select(lit(ResumeLo.toLong).as("resume_lo"),
          lit(ResumeHi.toLong).as("resume_hi"),
          col("n_docs"), col("pos_lo"), col("pos_hi"), col("slice_md5"))
    },

    // ---- q211 (round 16): EXPORT BLOCK INDEX — the zone-map layer a
    // serve tier puts OVER the export so a point lookup touches one
    // block, not one shard (q203 prunes to the shard directory; at
    // 100 TB a shard is still ~6 TB — the lookup must then prune to a
    // row group): from the compacted export, a (shard, block) index of
    // [h_lo, h_hi] fences (block = (ord-1) DIV BrinBlock — rows are in
    // h order, so block h-ranges are disjoint up to hash ties); each
    // probe doc_id resolves candidate blocks by fence containment and
    // the query pins that the probe's TRUE block is always among the
    // candidates (is_covered = 1 — the property that makes the index
    // safe to serve from) with the candidate count reported honestly.
    // 100 TB shape: the index is corpus/BrinBlock rows built once per
    // compaction; a serve tier answers a probe by BINARY-SEARCHING the
    // shard's sorted fence array (O(log blocks)) and reading ONE block
    // — never the corpus. The shard-equi join + fence filter HERE is
    // the exhaustive AUDIT of that same containment relation (it
    // enumerates each shard's probe×block pairs — fine for an audit
    // run, not the per-lookup read path). ----
    QueryDef("q211_export_block_index", exportBlockIndexOracle) { (s, dir) =>
      val root = ensureCompactedExport(s, dir)
      val rows = s.read.parquet(root)
        .select(col("shard").cast(LongType).as("shard"), col("ord"),
          col("h"), col("doc_id"))
      val index = rows
        .withColumn("block", expr(s"(ord - 1) DIV $BrinBlock"))
        .groupBy(col("shard"), col("block"))
        .agg(min(col("h")).as("h_lo"), max(col("h")).as("h_hi"))
      val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType)
      val probes = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % ProbeMod === ProbeRes)
        .select(col("doc_id"), h.as("ph"))
        .withColumn("shard", (col("ph") % Shards).cast(LongType))
      val truth = rows
        .select(col("doc_id"),
          expr(s"(ord - 1) DIV $BrinBlock").as("true_block"))
      probes.join(truth, Seq("doc_id"))
        .join(index, Seq("shard"))
        .filter(col("ph") >= col("h_lo") && col("ph") <= col("h_hi"))
        .groupBy(col("doc_id"), col("shard"), col("true_block"))
        .agg(count(lit(1)).as("n_cand_blocks"),
          max((col("block") === col("true_block")).cast(IntegerType))
            .as("is_covered"))
        .select(col("doc_id"), col("shard"), col("true_block"),
          col("n_cand_blocks"), col("is_covered"))
        .orderBy(col("doc_id"))
    },

    // ---- q218 (round 16): BLOCK-INDEX MAINTENANCE UNDER APPEND — the
    // q211 zone map must survive q209's growth WITHOUT a rebuild (at
    // 100 TB re-indexing the base per append would cost what the
    // fast-append saved): the index is ADDITIVE — each layer carries
    // its own (layer, shard, block) fences over its own ord order, an
    // append just adds the delta layer's fences — and a probe now
    // resolves candidates across BOTH layers' fences. The query pins
    // that every probe (base-cohort and delta-cohort alike) still
    // finds its true (layer, block) among the candidates, with the
    // cross-layer candidate count reported honestly (delta fences
    // overlap base fences in h-space, so lookups typically touch one
    // block per layer — the known merge-on-read read amplification
    // that q210's compaction exists to fold back). 100 TB shape: index
    // stays corpus/8 rows total across layers; append adds only the
    // batch's fences; a serve-tier lookup binary-searches each layer's
    // sorted fences and reads one block per layer — the join here is
    // q211's exhaustive audit formulation over both layers. ----
    QueryDef("q218_index_maintenance", indexMaintenanceOracle) { (s, dir) =>
      val (baseRoot, deltaRoot) = ensureIncrementalExport(s, dir)
      def layer(root: String, tag: String): DataFrame =
        s.read.parquet(root)
          .select(col("shard").cast(LongType).as("shard"), col("ord"),
            col("h"), col("doc_id"), lit(tag).as("layer"))
      val rows = layer(baseRoot, "base").unionByName(layer(deltaRoot, "delta"))
      val index = rows
        .withColumn("block", expr(s"(ord - 1) DIV $BrinBlock"))
        .groupBy(col("layer"), col("shard"), col("block"))
        .agg(min(col("h")).as("h_lo"), max(col("h")).as("h_hi"))
      val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType)
      val probes = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % ProbeMod === ProbeRes)
        .select(col("doc_id"), h.as("ph"))
        .withColumn("shard", (col("ph") % Shards).cast(LongType))
      val truth = rows.select(col("doc_id"),
        col("layer").as("true_layer"),
        expr(s"(ord - 1) DIV $BrinBlock").as("true_block"))
      probes.join(truth, Seq("doc_id"))
        .join(index, Seq("shard"))
        .filter(col("ph") >= col("h_lo") && col("ph") <= col("h_hi"))
        .groupBy(col("doc_id"), col("shard"), col("true_layer"), col("true_block"))
        .agg(count(lit(1)).as("n_cand_blocks"),
          max((col("layer") === col("true_layer") &&
            col("block") === col("true_block")).cast(IntegerType))
            .as("is_covered"))
        .select(col("doc_id"), col("shard"), col("true_layer"),
          col("true_block"), col("n_cand_blocks"), col("is_covered"))
        .orderBy(col("doc_id"))
    },

    // ---- q230 (round 16): CONSISTENT SAMPLING UNDER GROWTH — the
    // sampling-rule property that decides whether a 100 TB eval/debug
    // sample is reusable after the corpus grows (a hash-THRESHOLD rule
    // — keep doc iff h("smp:"+id) % 100 < 10 — is per-doc and
    // append-stable: yesterday's sample is a SUBSET of today's; a
    // FROZEN-BUDGET rank rule — the top K = ceil(|v1|/10) by the same
    // hash, K fixed when the sample was first drawn — churns, because
    // new docs entering the top-K push old members out): both rules
    // run on the v1 corpus (the q209 base cohort, doc_id % 10 != 7)
    // and the grown v2 corpus (all docs), and the report QUANTIFIES
    // the difference — hash overlap == hash v1-size (stable, pinned),
    // rank churn measured. 100 TB shape: membership is scan-local for
    // the hash rule (the point — no coordination, no global state);
    // the rank legs need a GLOBAL rank — exactly the disqualifier
    // this query exists to demonstrate (fine on the fixture, a
    // corpus-wide sort at scale); the report is six 1-row counts. ----
    QueryDef("q230_consistent_sampling", consistentSamplingOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = conv(substring(md5(concat(lit("smp:"),
        col("doc_id").cast(StringType))), 1, 15), 16, 10).cast(LongType)
      def corpus(v2: Boolean): DataFrame = T(s, dir, "documents")
        .filter(col("text").isNotNull &&
          (if (v2) lit(true) else col("doc_id") % 10 =!= 7))
        .select(col("doc_id"), h.as("hkey"))
      def hashSample(df: DataFrame): DataFrame =
        df.filter(col("hkey") % 100 < 10).select(col("doc_id"))
      val (v1, v2) = (corpus(v2 = false).persist(), corpus(v2 = true).persist())
      // The rank budget K is FROZEN at ceil(|v1|/10) — the sample size
      // fixed when first drawn — for BOTH runs; that is what churns.
      val kBudget = v1.agg(count(lit(1)).as("nv1"))
      def rankSample(df: DataFrame): DataFrame =
        df.crossJoin(broadcast(kBudget))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("hkey"), col("doc_id"))).cast(LongType))
          .filter(col("rk") <= expr("(nv1 + 9) DIV 10"))
          .select(col("doc_id"))
      val (h1, h2) = (hashSample(v1).persist(), hashSample(v2).persist())
      val (r1, r2) = (rankSample(v1).persist(), rankSample(v2).persist())
      def n(df: DataFrame, as: String) = df.agg(count(lit(1)).as(as))
      val hOv = h1.join(h2, "doc_id").agg(count(lit(1)).as("hash_overlap"))
      val rOv = r1.join(r2, "doc_id").agg(count(lit(1)).as("rank_overlap"))
      n(v1, "n_v1").crossJoin(n(v2, "n_v2"))
        .crossJoin(n(h1, "hash_s1")).crossJoin(n(h2, "hash_s2"))
        .crossJoin(hOv)
        .crossJoin(n(r1, "rank_s1")).crossJoin(n(r2, "rank_s2"))
        .crossJoin(rOv)
        .select(col("n_v1"), col("n_v2"),
          col("hash_s1"), col("hash_s2"), col("hash_overlap"),
          (col("hash_overlap") === col("hash_s1")).cast(IntegerType)
            .as("hash_stable"),
          col("rank_s1"), col("rank_s2"), col("rank_overlap"),
          (col("rank_s1") - col("rank_overlap")).as("rank_churn"))
    },

    // ---- q237 (round 16): PACKED TENSOR EXPORT — the artifact a
    // trainer ACTUALLY mounts (q201/q202 ship text shards; the last
    // hop of tokenized pretraining data is fixed-length token-ID
    // arrays — "the .bin file"): the stored-vocab token stream
    // (bpeTokenStream, the exact frame q173's checksums pin — the
    // no-drift rule) is materialized write-once as parquet rows of
    // (source, chunk, ids[2048-or-tail]), partitioned by source; this
    // query reads the FILES back, re-explodes every array with its
    // index, and re-derives q173's per-chunk token counts and
    // position-weighted id checksums — the oracle IS q173's, so a
    // dropped id, a reordered array, or a mis-chunked file hash-fails
    // against the same ground truth as the logical stream. 100 TB
    // shape: the write is one (source, chunk) shuffle of id structs;
    // the audit is scan + posexplode + keyed agg; files are
    // sequentially mountable by (source, chunk). ----
    QueryDef("q237_packed_export", PipelineTokenizer.bpeIdsOracle) { (s, dir) =>
      val root = ensurePackedExport(s, dir)
      s.read.parquet(root)
        .select(col("source"), col("chunk"), posexplode(col("ids")))
        .toDF("source", "chunk", "pic", "id")
        .groupBy(col("source"), col("chunk"))
        .agg(count(lit(1)).cast(LongType).as("n_tokens"),
          sum((col("pic") + 1) * col("id")).cast(LongType).as("id_checksum"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("source"), col("chunk"))
    },

    // ---- q236 (round 16): SCHEMA EVOLUTION UNDER APPEND — the
    // lakehouse fact q209's lifecycle still hadn't exercised (real
    // feeds GROW COLUMNS: one day the crawler starts shipping a lang
    // tag; the standing base cannot be rewritten, and every reader
    // must see one unified schema): the delta layer is written WITH
    // the new lang column, the base without, and the merged-schema
    // read (mergeSchema=true) must back-fill base rows with NULL —
    // this query pins, per shard, total/legacy/evolved row counts,
    // the evolved layer's tag cardinality, and that legacy rows are
    // EXACTLY the pre-evolution cohort (a reader silently dropping
    // either layer, or inventing non-null back-fill, hash-fails).
    // 100 TB shape: schema merge is a footer-level operation (file
    // schemas union at planning, not a data rewrite); the audit is
    // one layered read + a shard-keyed aggregate. ----
    QueryDef("q236_schema_evolution", schemaEvolutionOracle) { (s, dir) =>
      val root = ensureEvolvedExport(s, dir)
      s.read.option("mergeSchema", "true").parquet(root)
        .select(col("shard").cast(LongType).as("shard"), col("doc_id"),
          col("lang"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("lang").isNull, 1L).otherwise(0L)).cast(LongType)
            .as("n_legacy"),
          sum(when(col("lang").isNotNull, 1L).otherwise(0L)).cast(LongType)
            .as("n_evolved"),
          countDistinct(col("lang")).as("n_langs"),
          md5(array_join(
            transform(
              array_sort(collect_list(
                when(col("lang").isNull, col("doc_id")))),
              x => x.cast(StringType)),
            ",")).as("legacy_md5"))
        .orderBy(col("shard"))
    },

    // ---- q224 (round 16): DELETE PROPAGATION TO THE EXPORT — the
    // right-to-be-forgotten reaching the SHIPPED artifact (q161 audits
    // the logical corpus, q191 tombstones at ingest; a regulator asks
    // about the FILES): the q191 deletion cohort (doc_id % 7 = 3) is
    // applied to the compacted export as merge-on-read position
    // deletes — an UNHINTED anti-join of the export read against the
    // tombstone set (corpus-derived here, so no broadcast hint — the
    // q199 rule; production deletion requests are tiny and AQE
    // broadcasts them on its own) — and the per-shard serving digest
    // is pinned against a manifest recomputed from the source MINUS
    // the cohort: an unpropagated delete, an over-delete, or a stale
    // export hash-fails. This closes the export lifecycle: append
    // (q209/q217), compact (q210), index (q211/q218), serve
    // (q203/q223), audit (q212/q221), delete (here). 100 TB shape:
    // one export scan + one keyed anti-join + shard-keyed aggregates;
    // the base is never rewritten (deletes stay positional until the
    // next q210 compaction folds them in). ----
    QueryDef("q224_export_delete", exportDeleteOracle) { (s, dir) =>
      val root = ensureCompactedExport(s, dir)
      val rows = s.read.parquet(root)
        .select(col("shard").cast(LongType).as("shard"), col("h"),
          col("doc_id"))
      val tombs = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 7 === 3)
        .select(col("doc_id"))
      val perShard = rows.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_total"))
      val serving = rows.join(tombs, Seq("doc_id"), "left_anti")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_serving"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("h"), col("doc_id")))),
              x => x.getField("doc_id").cast(StringType)),
            ",")).as("serving_md5"))
      val hh = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType)
      val manifest = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 7 =!= 3)
        .select(col("doc_id"), hh.as("h"))
        .withColumn("shard", (col("h") % Shards).cast(LongType))
        .groupBy(col("shard"))
        .agg(md5(array_join(
          transform(array_sort(collect_list(struct(col("h"), col("doc_id")))),
            x => x.getField("doc_id").cast(StringType)),
          ",")).as("manifest_md5"))
      perShard.join(serving, Seq("shard")).join(manifest, Seq("shard"))
        .select(col("shard"), col("n_total"),
          (col("n_total") - col("n_serving")).as("n_deleted"),
          col("n_serving"), col("serving_md5"), col("manifest_md5"),
          (col("serving_md5") === col("manifest_md5")).cast(IntegerType)
            .as("is_match"))
        .orderBy(col("shard"))
    },

    // ---- q212 (round 16): EXPORT DECONTAMINATION AUDIT — q57 scrubs
    // the LOGICAL corpus; a release auditor must re-check the SHIPPED
    // BYTES (the artifact a trainer mounts — a stale export, a bad
    // compaction, or a post-scrub append would all pass a logical-only
    // check): the compacted export files are re-read, the shipped text
    // is re-shingled with the same graft_shingle_hashes kernel, and
    // train-side docs sharing any 3-gram with the eval split
    // (doc_id % 50 = 0, the q57 rule) are flagged per shard with an
    // order-pinned membership digest. 100 TB shape: shingling is
    // scan-local over the export read; the eval-fingerprint set is an
    // UNHINTED semi join (eval suites are bounded in production, but
    // this derivation is corpus-proportional — AQE decides, the q199
    // de-hinting rule); per-shard aggregates are the only shuffle. ----
    QueryDef("q212_export_decontam_audit", exportDecontamAuditOracle) { (s, dir) =>
      val root = ensureCompactedExport(s, dir)
      val exp = s.read.parquet(root)
        .select(col("shard").cast(LongType).as("shard"), col("doc_id"),
          col("text"))
      val bench = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 50 === 0)
        .select(explode(expr("graft_shingle_hashes(text)")).as("h"))
        .distinct()
      val flagged = exp.filter(col("doc_id") % 50 =!= 0)
        .select(col("shard"), col("doc_id"),
          explode(expr("graft_shingle_hashes(text)")).as("h"))
        .join(bench, Seq("h"), "left_semi")
        .select(col("shard"), col("doc_id")).distinct()
      val per = exp.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") % 50 === 0, 1L).otherwise(0L))
            .cast(LongType).as("n_eval_docs"))
      val fl = flagged.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_flagged"),
          md5(array_join(
            transform(array_sort(collect_list(col("doc_id"))),
              x => x.cast(StringType)),
            ",")).as("flagged_md5"))
      per.join(fl, Seq("shard"), "left")
        .select(col("shard"), col("n_docs"), col("n_eval_docs"),
          coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
          coalesce(col("flagged_md5"), lit("")).as("flagged_md5"))
        .orderBy(col("shard"))
    },

    // ---- q221 (round 16): PII AUDIT OF THE SHIPPED EXPORT — q212's
    // shipped-bytes principle applied to governance (q181 redacts the
    // logical corpus, q202 ships the redacted crawl export; a release
    // auditor must prove the FILES a trainer mounts carry zero
    // residual PII — a stale export or a write from a pre-redaction
    // frame would pass every logical check): the crawl-export shards
    // are re-read and re-scanned with the same three patterns;
    // residual counts must be zero per shard, and the placeholder
    // count is the POSITIVE control (redaction visibly ran — an
    // all-zeros report over an accidentally-empty export proves
    // nothing). 100 TB shape: three codegen regexp passes over the
    // export read, one shard-keyed agg — scan-local like q181, which
    // is the only acceptable shape for a every-byte governance scan. ----
    QueryDef("q221_export_pii_audit", exportPiiAuditOracle) { (s, dir) =>
      val root = ensureCrawlExport(s, dir)
      s.read.parquet(root)
        .select(col("shard").cast(LongType).as("shard"), col("t"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(regexp_count(col("t"), lit(EmailPat))).cast(LongType)
            .as("n_email_residual"),
          sum(regexp_count(col("t"), lit(SsnPat))).cast(LongType)
            .as("n_ssn_residual"),
          sum(regexp_count(col("t"), lit(PhonePat))).cast(LongType)
            .as("n_phone_residual"),
          sum(regexp_count(col("t"), lit("<EMAIL>|<SSN>|<PHONE>")))
            .cast(LongType).as("n_placeholders"))
        .orderBy(col("shard"))
    },

    // ---- q214 (round 16): PREFERENCE-PAIR CONSTRUCTION — the data op
    // behind preference tuning (DPO/RLHF reward modeling needs
    // (chosen, rejected) pairs; absent human labels, pipelines mine
    // them from a quality signal over COMPARABLE responses): docs are
    // grouped into (source, token-length band) cells — same register,
    // same length, so the quality gap is the only axis — and each cell
    // with >= 2 docs ships its best-vs-worst pair by distinct-token
    // ratio (q193's exact-integer score), kept only when the margin
    // clears PrefMarginMin (a pair the scorer can't separate teaches
    // nothing). Tie rule pins determinism: chosen = (score DESC,
    // doc_id ASC), rejected = (score ASC, doc_id DESC) — disjoint
    // whenever the cell has 2+ docs. 100 TB shape: scoring is
    // scan-local; ONE hash shuffle on (source, bucket) feeds both
    // window ranks (same partitioning, two sort orders); output is
    // #cells rows. ----
    QueryDef("q214_preference_pairs", preferencePairsOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val scored = T(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("ws", split(lower(col("text")), " "))
        .select(col("source"), col("doc_id"),
          expr(s"size(ws) DIV $PrefBucketW").cast(LongType).as("bucket"),
          expr("CAST(round(CAST(size(array_distinct(ws)) AS DOUBLE) / size(ws) * 1000000, 0) AS BIGINT)")
            .as("score_micro"))
      val w = Window.partitionBy(col("source"), col("bucket"))
      val ranked = scored
        .withColumn("rk_top",
          row_number().over(w.orderBy(desc("score_micro"), col("doc_id"))))
        .withColumn("rk_bot",
          row_number().over(w.orderBy(col("score_micro"), desc("doc_id"))))
        .withColumn("n_group", count(lit(1)).over(w))
      val top = ranked.filter(col("rk_top") === 1)
        .select(col("source"), col("bucket"),
          col("doc_id").as("chosen_id"), col("score_micro").as("cs"),
          col("n_group"))
      val bot = ranked.filter(col("rk_bot") === 1)
        .select(col("source"), col("bucket"),
          col("doc_id").as("rejected_id"), col("score_micro").as("rs"))
      top.join(bot, Seq("source", "bucket"))
        .filter(col("n_group") >= 2 && col("cs") - col("rs") >= PrefMarginMin)
        .select(col("source"), col("bucket"), col("chosen_id"),
          col("rejected_id"), (col("cs") - col("rs")).as("margin_micro"),
          col("n_group"))
        .orderBy(col("source"), col("bucket"))
    },

    // ---- q241 (round 18): SNAPSHOT-POINTER EXPORT READ (VERDICT r17
    // #4) — the atomic-commit protocol the append/compact lifecycle
    // (q209/q210/q217/q224) lacked: every commit writes a COMPLETE new
    // immutable layer directory (v1, v2, ...) and then swaps a tiny
    // `_current` pointer file via temp-write + ATOMIC_MOVE; readers
    // resolve the pointer FIRST and then read only that layer. A reader
    // concurrent with an append therefore sees exactly one consistent
    // snapshot — old or new, never a mix (StorageLayoutSpec interleaves
    // a resolve across a commit and pins both sides). The entry reads
    // the export strictly THROUGH the pointer; its oracle hardcodes the
    // v2 content recomputation, so a stale or torn pointer (v1 contents,
    // a missing late batch) is a hash FAIL. 100 TB shape: the pointer is
    // one metadata file (the Iceberg/Delta snapshot-id convention), the
    // read is partition-pruned parquet, the rollup is one shard-keyed
    // aggregate. ----
    QueryDef("q241_export_snapshot_read", exportSnapshotOracle) { (s, dir) =>
      val root = ensureSnapshotExport(s, dir)
      val v = resolveSnapshot(root)
      s.read.parquet(s"$root/$v")
        .groupBy(col("shard").cast(LongType).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(pmod(col("h"), lit(1000000007L))).cast(LongType).as("checksum"))
        .select(lit(v).as("snapshot"), col("shard"), col("n_docs"), col("checksum"))
        .orderBy(col("shard"))
    },

    // ---- q242 (round 18): DATA-CARD ARTIFACT (VERDICT r17 #6) — the
    // release documentation made durable: q199's per-source card and
    // q225's inspection sample are WRITTEN once as a versioned artifact
    // committed through the q241 snapshot pointer (write layer → swap
    // `_current`), then this entry READS THEM BACK through the pointer
    // and digest-reconciles every stored value against a fresh source
    // recomputation (the q201 write/re-read/reconcile pattern). A
    // drifted card (stale stats after a corpus change), a dropped
    // sample row, or a torn commit flips card_match/sample_match to 0
    // and the oracle's =1 pins hash-fail. 100 TB shape: the card is
    // #sources rows and the sample 3·#sources rows — reading them back
    // is metadata-cheap; the reconciliation legs are the already-
    // audited q199/q225 plans. ----
    QueryDef("q242_data_card_artifact", dataCardArtifactOracle) { (s, dir) =>
      val root = ensureDataCard(s, dir)
      val v = resolveSnapshot(root)
      val storedCard = s.read.parquet(s"$root/$v/card")
      val storedSample = s.read.parquet(s"$root/$v/sample")
      val freshCard = Registry.byName("q199_data_card").build(s, dir)
      val freshSample = Registry.byName("q225_inspection_sample").build(s, dir)
      val cardCols = Seq("n_docs", "n_tokens", "avg_tokens", "mean_quality_micro",
        "dup_docs", "dup_rate_micro", "top_lang", "top_lang_share_micro")
      val cardMatch = storedCard.as("a")
        .join(freshCard.as("b"), col("a.source") === col("b.source"))
        .select((col("a.source").as("source") +:
          cardCols.map(c => col(s"a.$c").as(c))) :+
          when(cardCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _), 1L)
            .otherwise(0L).as("card_match"): _*)
      val sampleMatch = storedSample.as("sa")
        .join(freshSample.as("sb"),
          col("sa.source") === col("sb.source") && col("sa.rk") === col("sb.rk"),
          "full")
        .groupBy(coalesce(col("sa.source"), col("sb.source")).as("source"))
        .agg(count(lit(1)).as("n_sample"),
          min(when(col("sa.doc_id") === col("sb.doc_id") &&
            col("sa.n_tok") === col("sb.n_tok") &&
            col("sa.text_md5") === col("sb.text_md5"), 1L).otherwise(0L))
            .as("sample_match"))
      cardMatch.join(sampleMatch, Seq("source"))
        .orderBy(col("source"))
    }
  )

  /** q186's repeat-epoch allocation — (source, tokens, target_tokens,
    * epochs_micro) — shared by the plan report (q186) and the epoch
    * MATERIALIZATION (q204), so the sampler provably consumes the same
    * plan the report states. */
  private def repeatEpochPlan(s: SparkSession, dir: String): DataFrame = {
    val tok = T(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"),
        size(split(lower(col("text")), " ")).cast(LongType).as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).cast(LongType).as("tokens"))
    val tot = tok.agg(sum(col("tokens")).cast(LongType).as("total"),
      count(lit(1)).as("ns"))
    tok.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        expr("(total * 3) DIV ns").as("target_tokens"),
        // Zero-guarded (r15 ADVICE): a source whose docs are all
        // empty has tokens = 0 — Spark DIV yields NULL, DuckDB //
        // errors; both engines now agree on 0 epochs.
        when(col("tokens") > 0,
          expr("least(4000000, ((total * 3) DIV ns) * 1000000 DIV tokens)"))
          .otherwise(lit(0L)).as("epochs_micro"))
  }

  /** q209's reconciliation, shared with q217 (the same append≡rebuild
    * statement when the delta layer arrives as a STREAM): `both` is the
    * layered export read — (shard, h, doc_id, layer) — and the result
    * pins the merged per-shard membership digest against the
    * full-rebuild manifest recomputed from the source. */
  private[queries] def appendReconcile(
      s: SparkSession, dir: String, both: DataFrame): DataFrame = {
    val fileSide = both.groupBy(col("shard"))
      .agg(sum(when(col("layer") === "base", 1L).otherwise(0L))
          .cast(LongType).as("n_docs_base"),
        sum(when(col("layer") === "delta", 1L).otherwise(0L))
          .cast(LongType).as("n_docs_delta"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("h"), col("doc_id")))),
            x => x.getField("doc_id").cast(StringType)),
          ",")).as("merged_md5"))
    val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
      .cast(LongType)
    val manifest = T(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", (col("h") % Shards).cast(LongType))
      .groupBy(col("shard"))
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct(col("h"), col("doc_id")))),
          x => x.getField("doc_id").cast(StringType)),
        ",")).as("manifest_md5"))
    fileSide.join(manifest, Seq("shard"))
      .select(col("shard"), col("n_docs_base"), col("n_docs_delta"),
        col("merged_md5"), col("manifest_md5"),
        (col("merged_md5") === col("manifest_md5")).cast(IntegerType).as("is_match"))
      .orderBy(col("shard"))
  }

  // Write-once memo for the materialized exports (the ensureBpeModel
  // convention: per-session memo + on-disk _SUCCESS check; dirKey keeps
  // sanitized paths from colliding across raw dirs).
  private val exportDirs = scala.collection.mutable.Set.empty[String]

  /** Write the raw-corpus shard export ONCE per (session, dir): parquet
    * partitioned by shard = h60(doc_id) mod Shards, each shard wholly
    * inside one task (repartition on the shard key) and rows in
    * (h, doc_id) order with an explicit per-shard ord column. Returns
    * the export root q201 reads back. */
  private[graft] def ensureShardExport(s: SparkSession, dir: String): String =
    synchronized {
      import org.apache.spark.sql.expressions.Window
      val root = graft.BuildPaths.scratch(s"shard_export/${graft.BuildPaths.dirKey(dir)}")
      val memoKey = s"raw|$dir"
      if (!(exportDirs.contains(memoKey) &&
            new java.io.File(root, "_SUCCESS").exists)) {
        val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
          .cast(LongType)
        val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
        T(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("text"), h.as("h"))
          .withColumn("shard", (col("h") % Shards).cast(LongType))
          .withColumn("ord", row_number().over(w).cast(LongType))
          .repartition(col("shard"))
          .sortWithinPartitions(col("ord"))
          .write.mode("overwrite").partitionBy("shard").parquet(root)
        exportDirs.add(memoKey)
      }
      root
    }

  /** Write one export layer: parquet partitioned by shard, each shard
    * wholly inside one task, rows in (h, doc_id) order with an explicit
    * per-shard ord column (the q201 physical contract). */
  private def writeShardLayer(df: DataFrame, root: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    df.withColumn("ord", row_number().over(w).cast(LongType))
      .repartition(col("shard"))
      .sortWithinPartitions(col("ord"))
      .write.mode("overwrite").partitionBy("shard").parquet(root)
  }

  /** Write the TWO-layer incremental export ONCE per (session, dir):
    * the base layer (doc_id % 10 != 7) and the late-batch delta layer
    * (% 10 == 7) — the append shuffles only the batch, the base is
    * never rewritten. Returns (baseRoot, deltaRoot) for q209. */
  private[graft] def ensureIncrementalExport(
      s: SparkSession, dir: String): (String, String) =
    synchronized {
      val key = graft.BuildPaths.dirKey(dir)
      val baseRoot = graft.BuildPaths.scratch(s"incr_export/$key/base")
      val deltaRoot = graft.BuildPaths.scratch(s"incr_export/$key/delta")
      val memoKey = s"incr|$dir"
      if (!(exportDirs.contains(memoKey) &&
            new java.io.File(baseRoot, "_SUCCESS").exists &&
            new java.io.File(deltaRoot, "_SUCCESS").exists)) {
        val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
          .cast(LongType)
        val docs = T(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("text"), h.as("h"))
          .withColumn("shard", (col("h") % Shards).cast(LongType))
        writeShardLayer(docs.filter(col("doc_id") % 10 =!= 7), baseRoot)
        writeShardLayer(docs.filter(col("doc_id") % 10 === 7), deltaRoot)
        exportDirs.add(memoKey)
      }
      (baseRoot, deltaRoot)
    }

  /** Write the PACKED token-id export ONCE per (session, dir): one row
    * per (source, chunk) carrying the fixed-length id array in exact
    * in-chunk order (groups bounded by the 2048-token chunk size — the
    * q98/q170 bounded-collect rule), parquet partitioned by source.
    * Returns the root q237 reads back. */
  private[graft] def ensurePackedExport(s: SparkSession, dir: String): String =
    synchronized {
      val root = graft.BuildPaths.scratch(
        s"packed_export/${graft.BuildPaths.dirKey(dir)}")
      val memoKey = s"packed|$dir"
      if (!(exportDirs.contains(memoKey) &&
            new java.io.File(root, "_SUCCESS").exists)) {
        PipelineTokenizer.bpeTokenStream(s, dir)
          .groupBy(col("source"), col("chunk"))
          .agg(transform(
            array_sort(collect_list(struct(col("pic"), col("id")))),
            x => x.getField("id")).as("ids"))
          .repartition(col("source"))
          .write.mode("overwrite").partitionBy("source").parquet(root)
        exportDirs.add(memoKey)
      }
      root
    }

  /** Write the SCHEMA-EVOLVED two-layer export ONCE per (session, dir):
    * the base layer (pre-evolution cohort, doc_id % 10 != 7) WITHOUT
    * the lang column, the delta layer (% 10 == 7) WITH it — the
    * grown-a-column append q236 audits through a merged-schema read. */
  private[graft] def ensureEvolvedExport(s: SparkSession, dir: String): String =
    synchronized {
      val key = graft.BuildPaths.dirKey(dir)
      val root = graft.BuildPaths.scratch(s"evolved_export/$key")
      val memoKey = s"evolved|$dir"
      if (!(exportDirs.contains(memoKey) &&
            new java.io.File(s"$root/layer=base", "_SUCCESS").exists &&
            new java.io.File(s"$root/layer=delta", "_SUCCESS").exists)) {
        val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
          .cast(LongType)
        val docs = T(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("text"), col("lang"), h.as("h"))
          .withColumn("shard", (col("h") % Shards).cast(LongType))
        // Hive-style layer= directories: one root, one partition axis
        // per commit generation — the layout a merged-schema read
        // discovers as a single table.
        writeShardLayer(docs.filter(col("doc_id") % 10 =!= 7).drop("lang"),
          s"$root/layer=base")
        writeShardLayer(docs.filter(col("doc_id") % 10 === 7),
          s"$root/layer=delta")
        exportDirs.add(memoKey)
      }
      root
    }

  /** Atomic snapshot-pointer commit (q241): write the version token to a
    * temp file, then ATOMIC_MOVE it over `_current` — a reader never
    * observes a missing or torn pointer, only the old or the new token. */
  private[graft] def commitPointer(root: String, version: String): Unit = {
    val tmp = java.nio.file.Paths.get(root, "._current.tmp")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.write(tmp, version.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(root, "_current"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resolve the committed snapshot version — the FIRST step of every
    * pointer-protocol read; the returned layer directory is immutable. */
  private[graft] def resolveSnapshot(root: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_current")), "UTF-8").trim

  /** Build the versioned snapshot-pointer export ONCE per (session,
    * dir): v1 = the base cohort (doc_id % 10 != 7), committed; then the
    * late batch lands as a COMPLETE new v2 layer (the full corpus) and
    * the pointer swaps — v1 stays on disk, immutable, for readers that
    * resolved before the commit (time travel falls out for free). */
  private[graft] def ensureSnapshotExport(s: SparkSession, dir: String): String =
    synchronized {
      val root = graft.BuildPaths.scratch(
        s"snap_export/${graft.BuildPaths.dirKey(dir)}")
      val memoKey = s"snap|$dir"
      if (!(exportDirs.contains(memoKey) &&
            new java.io.File(root, "_current").exists &&
            new java.io.File(s"$root/v2", "_SUCCESS").exists)) {
        val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
          .cast(LongType)
        val docs = T(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("text"), h.as("h"))
          .withColumn("shard", (col("h") % Shards).cast(LongType))
        writeShardLayer(docs.filter(col("doc_id") % 10 =!= 7), s"$root/v1")
        commitPointer(root, "v1")
        writeShardLayer(docs, s"$root/v2")
        commitPointer(root, "v2")
        exportDirs.add(memoKey)
      }
      root
    }

  /** Write the data-card artifact ONCE per (session, dir): q199's card
    * and q225's inspection sample as one pointer-committed version
    * (the q241 protocol — a card consumer never sees a half-written
    * release doc). */
  private[graft] def ensureDataCard(s: SparkSession, dir: String): String =
    synchronized {
      val root = graft.BuildPaths.scratch(
        s"data_card/${graft.BuildPaths.dirKey(dir)}")
      val memoKey = s"card|$dir"
      if (!(exportDirs.contains(memoKey) &&
            new java.io.File(root, "_current").exists &&
            new java.io.File(s"$root/v1/sample", "_SUCCESS").exists)) {
        Registry.byName("q199_data_card").build(s, dir)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/v1/card")
        Registry.byName("q225_inspection_sample").build(s, dir)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/v1/sample")
        commitPointer(root, "v1")
        exportDirs.add(memoKey)
      }
      root
    }

  /** Compact q209's two layers back into ONE export layer per shard —
    * full (h, doc_id) order, ord reassigned 1..n (the writeShardLayer
    * contract re-applied to the union). Write-once; returns the
    * compacted root q210 reads. */
  private[graft] def ensureCompactedExport(s: SparkSession, dir: String): String =
    synchronized {
      val (baseRoot, deltaRoot) = ensureIncrementalExport(s, dir)
      val root = graft.BuildPaths.scratch(
        s"incr_export/${graft.BuildPaths.dirKey(dir)}/compacted")
      val memoKey = s"compact|$dir"
      if (!(exportDirs.contains(memoKey) &&
            new java.io.File(root, "_SUCCESS").exists)) {
        val both = s.read.parquet(baseRoot)
          .unionByName(s.read.parquet(deltaRoot))
          .select(col("doc_id"), col("text"), col("h"),
            col("shard").cast(LongType).as("shard"))
        writeShardLayer(both, root)
        exportDirs.add(memoKey)
      }
      root
    }

  /** Write q200's curated keep set ONCE per (session, dir) as the same
    * shard-partitioned layout (redacted text included — the export is
    * what a trainer would actually mount). Returns the root q202 reads. */
  private[graft] def ensureCrawlExport(s: SparkSession, dir: String): String =
    synchronized {
      import org.apache.spark.sql.expressions.Window
      val root = graft.BuildPaths.scratch(s"crawl_export/${graft.BuildPaths.dirKey(dir)}")
      val memoKey = s"crawl|$dir"
      if (!(exportDirs.contains(memoKey) &&
            new java.io.File(root, "_SUCCESS").exists)) {
        val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
          .cast(LongType)
        val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
        Pipeline.crawlKeptDocs(s, dir)
          .select(col("doc_id"), col("t"), h.as("h"))
          .withColumn("shard", (col("h") % Shards).cast(LongType))
          .withColumn("ord", row_number().over(w).cast(LongType))
          .repartition(col("shard"))
          .sortWithinPartitions(col("ord"))
          .write.mode("overwrite").partitionBy("shard").parquet(root)
        exportDirs.add(memoKey)
      }
      root
    }

  /** DuckDB mirror of q181: identical injection, identical pattern
    * chain, identical replacement order (the 'g' flag matches Spark's
    * replace-all default). */
  private def piiRedactionOracle: String =
    s"""WITH pii AS (
       |  SELECT doc_id,
       |    $PiiInjectSql AS t
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$EmailPat')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(t, '$SsnPat')) AS BIGINT) AS n_ssn,
       |  CAST(len(regexp_extract_all(t, '$PhonePat')) AS BIGINT) AS n_phone,
       |  md5(regexp_replace(
       |        regexp_replace(
       |          regexp_replace(t, '$EmailPat', '<EMAIL>', 'g'),
       |          '$SsnPat', '<SSN>', 'g'),
       |        '$PhonePat', '<PHONE>', 'g')) AS redacted_md5
       |FROM pii
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of q199: same corpus-wide digest dup set, same
    * struct-max lang argmax, same integer-micro card arithmetic. */
  private def dataCardOracle: String =
    """WITH base AS (
      |  SELECT doc_id, source, lang,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
      |    CAST(round(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
      |         / len(string_split(lower(text), ' ')) * 1000000, 0) AS BIGINT) AS score_micro,
      |    md5(text) AS dg
      |  FROM documents WHERE text IS NOT NULL),
      |dups AS (SELECT dg FROM base GROUP BY dg HAVING count(*) > 1),
      |flagged AS (
      |  SELECT base.*, CASE WHEN dups.dg IS NOT NULL THEN 1 ELSE 0 END AS isdup
      |  FROM base LEFT JOIN dups ON base.dg = dups.dg),
      |lm AS (
      |  SELECT source, max(struct_pack(lc := lc, lang := lang)) AS m FROM (
      |    SELECT source, lang, CAST(count(*) AS BIGINT) AS lc
      |    FROM base GROUP BY 1, 2)
      |  GROUP BY source),
      |agg AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(sum(score_micro) AS BIGINT) AS sq,
      |    CAST(sum(isdup) AS BIGINT) AS dup_docs
      |  FROM flagged GROUP BY source)
      |SELECT a.source, a.n_docs, a.n_tokens,
      |  a.n_tokens // a.n_docs AS avg_tokens,
      |  a.sq // a.n_docs AS mean_quality_micro,
      |  a.dup_docs,
      |  (a.dup_docs * 1000000) // a.n_docs AS dup_rate_micro,
      |  lm.m.lang AS top_lang,
      |  (lm.m.lc * 1000000) // a.n_docs AS top_lang_share_micro
      |FROM agg a JOIN lm ON lm.source = a.source
      |ORDER BY a.source""".stripMargin

  /** DuckDB mirror of q195: same derived snapshots, same digest-based
    * change detection, same added-set checksum. */
  private def snapshotDiffOracle: String =
    """WITH base AS (
      |  SELECT doc_id, source, text, string_split(lower(text), ' ') AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |v1 AS (
      |  SELECT doc_id, source,
      |    md5(CASE WHEN doc_id % 13 = 7
      |        THEN array_to_string(ws[1 : len(ws) // 2], ' ')
      |        ELSE text END) AS d1
      |  FROM base WHERE doc_id % 11 <> 5),
      |v2 AS (
      |  SELECT doc_id, source AS source2, md5(text) AS d2
      |  FROM base WHERE doc_id % 19 <> 2),
      |j AS (
      |  SELECT COALESCE(v1.source, v2.source2) AS source, d1, d2,
      |    COALESCE(v1.doc_id, v2.doc_id) AS doc_id
      |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      |SELECT source,
      |  CAST(sum(CASE WHEN d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
      |  CAST(sum(CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
      |  CAST(sum(CASE WHEN d1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      |  CAST(sum(CASE WHEN d2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  CAST(sum(CASE WHEN d1 IS NOT NULL AND d2 IS NOT NULL AND d1 <> d2
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |  CAST(sum(CASE WHEN d1 = d2 THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
      |  CAST(sum(CASE WHEN d1 IS NULL
      |      THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |           % 1000000007
      |      ELSE 0 END) AS BIGINT) AS added_checksum
      |FROM j GROUP BY source
      |ORDER BY source""".stripMargin

  /** DuckDB mirror of q193: same score, same stage cuts, same epoch
    * salts, same shard windows and checksums — generated per epoch. */
  private def curriculumOracle: String = {
    val legs = CurriculumStages.zipWithIndex.map { case (t, i) =>
      val e = i + 1
      s"""ep$e AS (
         |  SELECT doc_id, n_tok,
         |    ('0x' || substr(md5('e$e:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hkey
         |  FROM d WHERE score_micro >= $t),
         |r$e AS (
         |  SELECT doc_id, n_tok,
         |    ROW_NUMBER() OVER (PARTITION BY hkey % 16 ORDER BY hkey, doc_id) AS pos
         |  FROM ep$e),
         |a$e AS (
         |  SELECT $e AS epoch, CAST($t AS BIGINT) AS min_score_micro,
         |    count(*) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |         % 1000000007) AS BIGINT) AS member_checksum,
         |    CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum
         |  FROM r$e)""".stripMargin
    }
    val union = (1 to CurriculumStages.size)
      .map(e => s"SELECT * FROM a$e").mkString("\nUNION ALL ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
       |    CAST(round(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
       |         / len(string_split(lower(text), ' ')) * 1000000, 0) AS BIGINT) AS score_micro
       |  FROM documents WHERE text IS NOT NULL),
       |${legs.mkString(",\n")}
       |$union
       |ORDER BY epoch""".stripMargin
  }

  /** DuckDB mirror of q188: same lattice, same level minima, same
    * lowest-publishable-level pick, same '*' generalization. */
  private def kanonGeneralizeOracle: String =
    s"""WITH l0 AS (
       |  SELECT lang, source, n_chars // $KAnonBucketW AS b, count(*) AS c
       |  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2, 3),
       |l1 AS (SELECT lang, source, CAST(sum(c) AS BIGINT) AS c FROM l0 GROUP BY 1, 2),
       |l2 AS (SELECT lang, CAST(sum(c) AS BIGINT) AS c FROM l0 GROUP BY 1),
       |pick AS (
       |  SELECT CASE WHEN (SELECT min(c) FROM l0) >= $KAnonK THEN 0
       |              WHEN (SELECT min(c) FROM l1) >= $KAnonK THEN 1
       |              WHEN (SELECT min(c) FROM l2) >= $KAnonK THEN 2
       |              ELSE 3 END AS lvl),
       |legs AS (
       |  SELECT 0 AS lvl, lang AS lang_g, source AS source_g,
       |    CAST(b AS VARCHAR) AS bucket_g, CAST(c AS BIGINT) AS n_docs FROM l0
       |  UNION ALL
       |  SELECT 1, lang, source, '*', c FROM l1
       |  UNION ALL
       |  SELECT 2, lang, '*', '*', c FROM l2
       |  UNION ALL
       |  SELECT 3, '*', '*', '*', CAST(sum(c) AS BIGINT) FROM l0)
       |SELECT legs.lvl, lang_g, source_g, bucket_g, n_docs
       |FROM legs, pick WHERE legs.lvl = pick.lvl
       |ORDER BY lang_g, source_g, bucket_g""".stripMargin

  /** DuckDB mirror of q186: same uniform per-source allocation, same
    * 4-epoch cap in integer micros, same shortfall arithmetic. */
  private def repeatEpochsOracle: String =
    s"""WITH tok AS (
       |  SELECT source,
       |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS tokens
       |  FROM documents WHERE text IS NOT NULL GROUP BY source),
       |tot AS (
       |  SELECT CAST(sum(tokens) AS BIGINT) AS total, count(*) AS ns FROM tok),
       |a AS (
       |  SELECT tok.source, tok.tokens,
       |    (tot.total * 3) // tot.ns AS target_tokens,
       |    CASE WHEN tok.tokens > 0 THEN
       |      least(4000000, ((tot.total * 3) // tot.ns) * 1000000 // tok.tokens)
       |      ELSE 0 END AS epochs_micro
       |  FROM tok, tot)
       |SELECT source, tokens, target_tokens, epochs_micro,
       |  (tokens * epochs_micro) // 1000000 AS effective_tokens,
       |  CAST(epochs_micro = 4000000 AS INT) AS capped,
       |  greatest(target_tokens - (tokens * epochs_micro) // 1000000, 0)
       |    AS shortfall
       |FROM a
       |ORDER BY source""".stripMargin

  /** DuckDB mirror of q185: same length buckets, same per-bucket and
    * global batch counts, same hash assignment, same waste arithmetic. */
  private def lengthBatchingOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
       |    ('0x' || substr(md5('lb:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents WHERE text IS NOT NULL),
       |bkt AS (SELECT doc_id, n_tok, h, n_tok // $LenBucketW AS bucket FROM d),
       |bc AS (
       |  SELECT bucket, greatest(count(*) // $LenBatch, 1) AS nb
       |  FROM bkt GROUP BY bucket),
       |ba AS (
       |  SELECT bkt.bucket, bkt.h % bc.nb AS batch, bkt.n_tok
       |  FROM bkt JOIN bc USING (bucket)),
       |gn AS (SELECT greatest(count(*) // $LenBatch, 1) AS nb FROM d),
       |ga AS (
       |  SELECT CAST(-1 AS BIGINT) AS bucket, d.h % gn.nb AS batch, d.n_tok
       |  FROM d, gn),
       |u AS (SELECT * FROM ba UNION ALL SELECT * FROM ga),
       |pb AS (
       |  SELECT bucket, batch, count(*) AS sz, max(n_tok) AS mx,
       |    CAST(sum(n_tok) AS BIGINT) AS sm
       |  FROM u GROUP BY bucket, batch)
       |SELECT bucket,
       |  CAST(sum(sz) AS BIGINT) AS n_docs,
       |  count(*) AS n_batches,
       |  CAST(sum(sm) AS BIGINT) AS sum_tokens,
       |  CAST(sum(mx * sz - sm) AS BIGINT) AS padding_waste,
       |  (CAST(sum(mx * sz - sm) AS BIGINT) * 1000000) //
       |    (CAST(sum(sm) AS BIGINT) + CAST(sum(mx * sz - sm) AS BIGINT)) AS waste_micro
       |FROM pb GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  /** DuckDB mirror of q183: same salted 60-bit hash, same mod-ceil(N/32)
    * batch assignment, same closed-form pair/collision counts. */
  private def contrastiveBatchesOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, label,
       |    ('0x' || substr(md5('cb:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM embeddings),
       |nb AS (SELECT greatest(count(*) // $BatchSize, 1) AS nb FROM v),
       |bl AS (
       |  SELECT v.h % nb.nb AS batch, v.label, count(*) AS c
       |  FROM v, nb GROUP BY 1, 2),
       |b AS (
       |  SELECT batch, CAST(sum(c) AS BIGINT) AS n_vecs,
       |    CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS n_collisions
       |  FROM bl GROUP BY batch)
       |SELECT batch, n_vecs,
       |  (n_vecs * (n_vecs - 1)) // 2 AS n_pairs,
       |  n_collisions,
       |  CASE WHEN n_vecs > 1
       |    THEN (n_collisions * 1000000) // ((n_vecs * (n_vecs - 1)) // 2)
       |    ELSE 0 END AS collision_micro
       |FROM b
       |ORDER BY batch""".stripMargin

  /** DuckDB mirror of q184: same salted per-block offset, same
    * non-overlapping span rule, same even/odd sort-key reassembly for
    * both the input and the target stream. */
  private def spanCorruptionOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws
       |  FROM documents WHERE text IS NOT NULL),
       |words AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS pos, ws[p] AS wd,
       |    (CAST(p AS BIGINT) - 1) // 20 AS block
       |  FROM w, unnest(generate_series(1, len(ws))) AS u(p)),
       |marked AS (
       |  SELECT doc_id, pos, wd, block,
       |    ('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR) || ':' ||
       |      CAST(block AS VARCHAR)), 1, 15))::BIGINT % 18 AS off,
       |    ((pos - 1) % 20) BETWEEN
       |      (('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR) || ':' ||
       |        CAST(block AS VARCHAR)), 1, 15))::BIGINT % 18) AND
       |      (('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR) || ':' ||
       |        CAST(block AS VARCHAR)), 1, 15))::BIGINT % 18) + 2 AS masked
       |  FROM words),
       |spans AS (
       |  SELECT doc_id, block, min(pos) AS s0, count(*) AS n_in_span,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY block) AS BIGINT) AS span_k
       |  FROM marked WHERE masked GROUP BY doc_id, block),
       |input_rows AS (
       |  SELECT doc_id, pos * 2 AS k, wd FROM marked WHERE NOT masked
       |  UNION ALL
       |  SELECT doc_id, s0 * 2 - 1 AS k,
       |    '<extra_id_' || CAST(span_k AS VARCHAR) || '>' AS wd FROM spans),
       |input_agg AS (
       |  SELECT doc_id, md5(string_agg(wd, ' ' ORDER BY k)) AS input_md5
       |  FROM input_rows GROUP BY doc_id),
       |target_rows AS (
       |  SELECT m.doc_id, s.span_k AS k1, m.pos AS k2, m.wd
       |  FROM marked m JOIN spans s ON m.doc_id = s.doc_id AND m.block = s.block
       |  WHERE m.masked
       |  UNION ALL
       |  SELECT doc_id, span_k AS k1, CAST(0 AS BIGINT) AS k2,
       |    '<extra_id_' || CAST(span_k AS VARCHAR) || '>' AS wd FROM spans),
       |target_agg AS (
       |  SELECT doc_id, md5(string_agg(wd, ' ' ORDER BY k1, k2)) AS target_md5
       |  FROM target_rows GROUP BY doc_id),
       |span_stats AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(n_in_span) AS BIGINT) AS n_masked
       |  FROM spans GROUP BY doc_id)
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
       |  COALESCE(ss.n_masked, 0) AS n_masked,
       |  COALESCE(ss.n_spans, 0) AS n_spans,
       |  COALESCE(ia.input_md5, md5('')) AS input_md5,
       |  COALESCE(ta.target_md5, md5('')) AS target_md5
       |FROM w
       |LEFT JOIN span_stats ss USING (doc_id)
       |LEFT JOIN input_agg ia USING (doc_id)
       |LEFT JOIN target_agg ta USING (doc_id)
       |ORDER BY w.doc_id""".stripMargin

  /** DuckDB mirror of q182: same 60-bit doc hash, same mod-$Shards
    * assignment, same (h, doc_id) intra-shard order, same digests and
    * running offsets. */
  private def shardManifestOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents WHERE text IS NOT NULL),
       |s AS (
       |  SELECT doc_id, h, h % $Shards AS shard,
       |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
       |    CAST(strlen(text) AS BIGINT) AS n_byt
       |  FROM d),
       |m AS (
       |  SELECT shard, count(*) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_byt) AS BIGINT) AS n_bytes,
       |    md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h, doc_id)) AS manifest_md5
       |  FROM s GROUP BY shard)
       |SELECT shard, n_docs, n_tokens, n_bytes,
       |  COALESCE(CAST(sum(n_bytes) OVER (ORDER BY shard
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS byte_offset,
       |  manifest_md5
       |FROM m
       |ORDER BY shard""".stripMargin

  /** DuckDB mirror of q201: the q182 manifest rule, with the
    * reconciliation PIN — the oracle cannot read the written files, so
    * it asserts what a correct export must re-derive: file_md5 equals
    * the manifest digest and is_match = 1. A wrong write on the Spark
    * side breaks the hash compare. */
  private def exportShardsOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
       |    CAST(strlen(text) AS BIGINT) AS n_byt
       |  FROM documents WHERE text IS NOT NULL),
       |m AS (
       |  SELECT h % $Shards AS shard, count(*) AS n_docs,
       |    CAST(sum(n_byt) AS BIGINT) AS n_bytes,
       |    md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h, doc_id)) AS manifest_md5
       |  FROM d GROUP BY 1)
       |SELECT shard, n_docs, n_bytes,
       |  COALESCE(CAST(sum(n_bytes) OVER (ORDER BY shard
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS byte_offset,
       |  manifest_md5 AS file_md5, manifest_md5, 1 AS is_match
       |FROM m
       |ORDER BY shard""".stripMargin

  /** DuckDB mirror of q203: the slice re-derived from the SOURCE table
    * by the export's (h, doc_id) rank — what the written ord column
    * must equal for the range read to serve the right docs. */
  private def exportRangeReadOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
       |    CAST(strlen(text) AS BIGINT) AS n_byt
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (
       |  SELECT doc_id, h, h % $Shards AS shard, n_byt,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY h % $Shards
       |      ORDER BY h, doc_id) AS BIGINT) AS ord
       |  FROM d)
       |SELECT shard, count(*) AS n_docs,
       |  min(ord) AS ord_lo, max(ord) AS ord_hi,
       |  CAST(sum(n_byt) AS BIGINT) AS n_bytes,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY ord)) AS slice_md5
       |FROM r
       |WHERE shard IN ($RangeShardsSql) AND ord BETWEEN $RangeOrdLo AND $RangeOrdHi
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** DuckDB mirror of q204: q186's allocation CTEs + the same
    * hash-threshold multiplicity, multiplicity-weighted aggregates. */
  private def epochSampleOracle: String =
    s"""WITH tok AS (
       |  SELECT source,
       |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS tokens
       |  FROM documents WHERE text IS NOT NULL GROUP BY source),
       |tot AS (
       |  SELECT CAST(sum(tokens) AS BIGINT) AS total, count(*) AS ns FROM tok),
       |a AS (
       |  SELECT tok.source,
       |    CASE WHEN tok.tokens > 0 THEN
       |      least(4000000, ((tot.total * 3) // tot.ns) * 1000000 // tok.tokens)
       |      ELSE 0 END AS epochs_micro
       |  FROM tok, tot),
       |d AS (
       |  SELECT doc.source, doc.doc_id,
       |    CAST(len(string_split(lower(doc.text), ' ')) AS BIGINT) AS n_tok,
       |    a.epochs_micro,
       |    a.epochs_micro // 1000000
       |      + CASE WHEN ('0x' || substr(md5('ep:' || CAST(doc.doc_id AS VARCHAR)), 1, 15))::BIGINT
       |               % 1000000 < a.epochs_micro % 1000000 THEN 1 ELSE 0 END AS mult
       |  FROM documents doc JOIN a ON a.source = doc.source
       |  WHERE doc.text IS NOT NULL)
       |SELECT source, epochs_micro, count(*) AS n_docs,
       |  CAST(sum(mult) AS BIGINT) AS n_docs_sampled,
       |  CAST(sum(mult * n_tok) AS BIGINT) AS n_tokens_sampled,
       |  CAST(sum(mult * (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |       % 1000000007)) AS BIGINT) AS sample_checksum
       |FROM d GROUP BY source, epochs_micro
       |ORDER BY source""".stripMargin

  /** DuckDB mirror of q206: q195's exact snapshot derivations, the same
    * 1024-bucket hashed-unigram models, the same once-rounded integer-
    * micro log-ratio and c1-weighted order-free sum. */
  private def snapshotDriftScoreOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, text, string_split(lower(text), ' ') AS ws
       |  FROM documents WHERE text IS NOT NULL),
       |v1 AS (
       |  SELECT source,
       |    CASE WHEN doc_id % 13 = 7
       |        THEN array_to_string(ws[1 : len(ws) // 2], ' ')
       |        ELSE text END AS t
       |  FROM base WHERE doc_id % 11 <> 5),
       |v2 AS (SELECT source, text AS t FROM base WHERE doc_id % 19 <> 2),
       |w1 AS (
       |  SELECT source, ('0x' || substr(md5(w), 1, 15))::BIGINT % 1024 AS b
       |  FROM (SELECT source, ${Pipeline.wordFeatOracleSqlOn("t")} AS w FROM v1)
       |  WHERE len(w) > 0),
       |w2 AS (
       |  SELECT source, ('0x' || substr(md5(w), 1, 15))::BIGINT % 1024 AS b
       |  FROM (SELECT source, ${Pipeline.wordFeatOracleSqlOn("t")} AS w FROM v2)
       |  WHERE len(w) > 0),
       |cc1 AS (SELECT source, b, COUNT(*) AS c1 FROM w1 GROUP BY 1, 2),
       |cc2 AS (SELECT source, b, COUNT(*) AS c2 FROM w2 GROUP BY 1, 2),
       |tt1 AS (SELECT source, CAST(SUM(c1) AS BIGINT) AS t1 FROM cc1 GROUP BY source),
       |tt2 AS (SELECT source, CAST(SUM(c2) AS BIGINT) AS t2 FROM cc2 GROUP BY source),
       |j AS (
       |  SELECT COALESCE(cc1.source, cc2.source) AS source,
       |    COALESCE(cc1.c1, 0) AS c1, COALESCE(cc2.c2, 0) AS c2
       |  FROM cc1 FULL OUTER JOIN cc2
       |    ON cc1.source = cc2.source AND cc1.b = cc2.b),
       |r AS (
       |  SELECT j.source, tt1.t1, tt2.t2, j.c1,
       |    CAST(round(ln(((j.c1 + 1) * (tt2.t2 + 1024))
       |         / CAST((j.c2 + 1) * (tt1.t1 + 1024) AS DOUBLE)) * 1000000, 0)
       |      AS BIGINT) AS r_micro
       |  FROM j JOIN tt1 USING (source) JOIN tt2 USING (source))
       |SELECT source, t1 AS t1_tokens, t2 AS t2_tokens,
       |  CAST(SUM(c1 * r_micro) AS BIGINT) AS drift_sum_micro,
       |  CASE WHEN t1 > 0 THEN CAST(SUM(c1 * r_micro) AS BIGINT) // t1
       |    ELSE 0 END AS mean_drift_micro
       |FROM r GROUP BY source, t1, t2
       |ORDER BY source""".stripMargin

  /** DuckDB mirror of q209: base/delta counts by the %10 batch rule and
    * the reconciliation pin — the merged (h, doc_id)-ordered digest of
    * the two layers must equal the full-rebuild manifest, so both
    * columns derive from the same expression and is_match = 1. */
  private[queries] def exportAppendOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (SELECT doc_id, h, h % $Shards AS shard FROM d)
       |SELECT shard,
       |  CAST(SUM(CASE WHEN doc_id % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_base,
       |  CAST(SUM(CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_delta,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h, doc_id)) AS merged_md5,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h, doc_id)) AS manifest_md5,
       |  1 AS is_match
       |FROM r GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** DuckDB mirror of q241: the v2 (full-corpus) snapshot recomputed
    * from the table, snapshot column hardcoded 'v2' — a reader that
    * resolved a stale pointer (v1 contents) hash-fails on the base-only
    * counts and checksum. */
  private def exportSnapshotOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (SELECT doc_id, h, h % $Shards AS shard FROM d)
       |SELECT 'v2' AS snapshot, shard, count(*) AS n_docs,
       |  CAST(SUM(h % 1000000007) AS BIGINT) AS checksum
       |FROM r GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** DuckDB mirror of q242: the card recomputed from source (q199's
    * oracle verbatim) with the match pins hardcoded 1 and the sample
    * census = min(3, n_docs) — any stored-vs-source drift hash-fails. */
  private def dataCardArtifactOracle: String =
    s"""SELECT q.*, CAST(1 AS BIGINT) AS card_match,
       |  CAST(CASE WHEN q.n_docs < 3 THEN q.n_docs ELSE 3 END AS BIGINT) AS n_sample,
       |  CAST(1 AS BIGINT) AS sample_match
       |FROM ($dataCardOracle) q
       |ORDER BY q.source""".stripMargin

  /** DuckDB mirror of q210: the full-rebuild manifest rule with the
    * compaction pins — digest preserved, ord contiguous. */
  private def exportCompactOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (SELECT doc_id, h, h % $Shards AS shard FROM d)
       |SELECT shard, count(*) AS n_docs,
       |  1 AS ord_contiguous,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h, doc_id)) AS compacted_md5,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h, doc_id)) AS manifest_md5,
       |  1 AS is_match
       |FROM r GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** DuckDB mirror of q208: the same global-position derivation per
    * epoch (correlated shard-prefix subquery instead of the window —
    * identical values), the same exact-integer Spearman. */
  private def epochDecorrelationOracle: String = {
    def epoch(e: Int): String =
      s"""h$e AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5('e$e:' || doc_id), 1, 15))::BIGINT AS hkey
         |  FROM documents),
         |p$e AS (
         |  SELECT doc_id, hkey % 64 AS shard,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY hkey % 64
         |      ORDER BY hkey, doc_id) AS BIGINT) AS rk
         |  FROM h$e),
         |o$e AS (SELECT shard, COUNT(*) AS n FROM p$e GROUP BY shard),
         |g$e AS (
         |  SELECT p.doc_id,
         |    CAST((SELECT COALESCE(SUM(o.n), 0) FROM o$e o WHERE o.shard < p.shard)
         |      + p.rk AS BIGINT) AS pos
         |  FROM p$e p)""".stripMargin
    s"""WITH ${epoch(1)},
       |${epoch(2)},
       |${epoch(3)},
       |pr AS (
       |  SELECT '1_2' AS pair, g1.pos - g2.pos AS dd
       |  FROM g1 JOIN g2 USING (doc_id)
       |  UNION ALL
       |  SELECT '1_3', g1.pos - g3.pos FROM g1 JOIN g3 USING (doc_id)
       |  UNION ALL
       |  SELECT '2_3', g2.pos - g3.pos FROM g2 JOIN g3 USING (doc_id))
       |SELECT pair, COUNT(*) AS n_docs,
       |  CAST(SUM(dd * dd) AS BIGINT) AS sum_d2,
       |  CASE WHEN COUNT(*) > 1 THEN
       |    1000000 - CAST(round((6 * CAST(SUM(dd * dd) AS BIGINT))
       |      / CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE) * 1000000, 0)
       |      AS BIGINT)
       |    ELSE 1000000 END AS rho_micro
       |FROM pr GROUP BY pair
       |ORDER BY pair""".stripMargin
  }

  /** DuckDB mirror of q222: identical per-source token/quality masses,
    * identical integer-micro normalization against the same totals. */
  private def mixtureAnnealOracle: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
      |    CAST(round(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
      |         / len(string_split(lower(text), ' ')) * 1000000, 0) AS BIGINT)
      |      AS score_micro
      |  FROM documents WHERE text IS NOT NULL),
      |p AS (
      |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS tokens,
      |    CAST(SUM(n_tok * score_micro) AS BIGINT) AS mass
      |  FROM d GROUP BY source),
      |t AS (
      |  SELECT CAST(SUM(tokens) AS BIGINT) AS t_tok,
      |    CAST(SUM(mass) AS BIGINT) AS t_mass
      |  FROM p)
      |SELECT source, tokens, mass,
      |  CASE WHEN t_tok > 0 THEN (tokens * 1000000) // t_tok ELSE 0 END
      |    AS w1_micro,
      |  CASE WHEN t_mass > 0 THEN (mass * 1000000) // t_mass ELSE 0 END
      |    AS w2_micro,
      |  CASE WHEN t_mass > 0 THEN (mass * 1000000) // t_mass ELSE 0 END
      |    - CASE WHEN t_tok > 0 THEN (tokens * 1000000) // t_tok ELSE 0 END
      |    AS shift_micro
      |FROM p, t
      |ORDER BY source""".stripMargin

  /** DuckDB mirror of q223: q208's epoch-2 global-position derivation
    * (correlated shard-prefix subquery — identical values), the same
    * inclusive window and order-pinned slice digest. */
  private def dataloaderResumeOracle: String =
    s"""WITH h2 AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('e2:' || doc_id), 1, 15))::BIGINT AS hkey
       |  FROM documents),
       |p2 AS (
       |  SELECT doc_id, hkey % 64 AS shard,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY hkey % 64
       |      ORDER BY hkey, doc_id) AS BIGINT) AS rk
       |  FROM h2),
       |o2 AS (SELECT shard, COUNT(*) AS n FROM p2 GROUP BY shard),
       |g2 AS (
       |  SELECT p.doc_id,
       |    CAST((SELECT COALESCE(SUM(o.n), 0) FROM o2 o WHERE o.shard < p.shard)
       |      + p.rk AS BIGINT) AS pos
       |  FROM p2 p),
       |s AS (SELECT doc_id, pos FROM g2 WHERE pos BETWEEN $ResumeLo AND $ResumeHi)
       |SELECT CAST($ResumeLo AS BIGINT) AS resume_lo,
       |  CAST($ResumeHi AS BIGINT) AS resume_hi,
       |  COUNT(*) AS n_docs,
       |  CAST(MIN(pos) AS BIGINT) AS pos_lo,
       |  CAST(MAX(pos) AS BIGINT) AS pos_hi,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos)) AS slice_md5
       |FROM s""".stripMargin

  /** DuckDB mirror of q230: same salted hash, same threshold and rank
    * rules over the same v1/v2 cohorts, same overlap accounting. */
  private def consistentSamplingOracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      AS hkey
      |  FROM documents WHERE text IS NOT NULL),
      |v1 AS (SELECT * FROM d WHERE doc_id % 10 <> 7),
      |v2 AS (SELECT * FROM d),
      |h1 AS (SELECT doc_id FROM v1 WHERE hkey % 100 < 10),
      |h2 AS (SELECT doc_id FROM v2 WHERE hkey % 100 < 10),
      |kb AS (SELECT ((COUNT(*) + 9) // 10) AS k FROM v1),
      |r1 AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hkey, doc_id) AS rk
      |    FROM v1) WHERE rk <= (SELECT k FROM kb)),
      |r2 AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hkey, doc_id) AS rk
      |    FROM v2) WHERE rk <= (SELECT k FROM kb))
      |SELECT
      |  (SELECT COUNT(*) FROM v1) AS n_v1,
      |  (SELECT COUNT(*) FROM v2) AS n_v2,
      |  (SELECT COUNT(*) FROM h1) AS hash_s1,
      |  (SELECT COUNT(*) FROM h2) AS hash_s2,
      |  (SELECT COUNT(*) FROM h1 JOIN h2 USING (doc_id)) AS hash_overlap,
      |  CAST(CASE WHEN (SELECT COUNT(*) FROM h1 JOIN h2 USING (doc_id))
      |      = (SELECT COUNT(*) FROM h1) THEN 1 ELSE 0 END AS INTEGER)
      |    AS hash_stable,
      |  (SELECT COUNT(*) FROM r1) AS rank_s1,
      |  (SELECT COUNT(*) FROM r2) AS rank_s2,
      |  (SELECT COUNT(*) FROM r1 JOIN r2 USING (doc_id)) AS rank_overlap,
      |  (SELECT COUNT(*) FROM r1)
      |    - (SELECT COUNT(*) FROM r1 JOIN r2 USING (doc_id)) AS rank_churn""".stripMargin

  /** DuckDB mirror of q236: the manifest shard rule split by the
    * evolution cohort — legacy rows are exactly the pre-evolution
    * cohort, evolved tag cardinality from the source lang column. */
  private def schemaEvolutionOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      % $Shards AS shard
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT shard, COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN doc_id % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_legacy,
       |  CAST(SUM(CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_evolved,
       |  CAST(COUNT(DISTINCT CASE WHEN doc_id % 10 = 7 THEN lang END) AS BIGINT)
       |    AS n_langs,
       |  md5(string_agg(CASE WHEN doc_id % 10 <> 7 THEN CAST(doc_id AS VARCHAR) END,
       |    ',' ORDER BY doc_id)) AS legacy_md5
       |FROM d GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** DuckDB mirror of q224: the manifest rule split by the deletion
    * cohort — totals from all docs, serving digest from the kept set,
    * both digest columns from the same expression so is_match = 1. */
  private def exportDeleteOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (SELECT doc_id, h, h % $Shards AS shard FROM d)
       |SELECT shard,
       |  COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_deleted,
       |  CAST(SUM(CASE WHEN doc_id % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_serving,
       |  md5(string_agg(CASE WHEN doc_id % 7 <> 3 THEN CAST(doc_id AS VARCHAR) END,
       |    ',' ORDER BY h, doc_id)) AS serving_md5,
       |  md5(string_agg(CASE WHEN doc_id % 7 <> 3 THEN CAST(doc_id AS VARCHAR) END,
       |    ',' ORDER BY h, doc_id)) AS manifest_md5,
       |  1 AS is_match
       |FROM r GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** DuckDB mirror of q211: the same manifest-rule derivation of
    * (shard, ord), the same block fences, the same fence-containment
    * probe resolution and coverage pin. */
  private def exportBlockIndexOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (
       |  SELECT doc_id, h, h % $Shards AS shard,
       |    ROW_NUMBER() OVER (PARTITION BY h % $Shards ORDER BY h, doc_id) AS ord
       |  FROM d),
       |ix AS (
       |  SELECT shard, (ord - 1) // $BrinBlock AS block,
       |    MIN(h) AS h_lo, MAX(h) AS h_hi
       |  FROM r GROUP BY shard, (ord - 1) // $BrinBlock),
       |p AS (
       |  SELECT doc_id, h AS ph, shard, (ord - 1) // $BrinBlock AS true_block
       |  FROM r WHERE doc_id % $ProbeMod = $ProbeRes)
       |SELECT p.doc_id, p.shard, CAST(p.true_block AS BIGINT) AS true_block,
       |  COUNT(*) AS n_cand_blocks,
       |  CAST(MAX(CASE WHEN ix.block = p.true_block THEN 1 ELSE 0 END)
       |    AS INTEGER) AS is_covered
       |FROM p JOIN ix ON p.shard = ix.shard AND p.ph BETWEEN ix.h_lo AND ix.h_hi
       |GROUP BY p.doc_id, p.shard, p.true_block
       |ORDER BY p.doc_id""".stripMargin

  /** DuckDB mirror of q218: the two layers' per-layer (h, doc_id) rank
    * orders by the %10 batch rule, per-layer fences, cross-layer probe
    * resolution, same coverage pin. */
  private def indexMaintenanceOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
       |    CASE WHEN doc_id % 10 = 7 THEN 'delta' ELSE 'base' END AS layer
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (
       |  SELECT doc_id, h, layer, h % $Shards AS shard,
       |    ROW_NUMBER() OVER (PARTITION BY layer, h % $Shards
       |      ORDER BY h, doc_id) AS ord
       |  FROM d),
       |ix AS (
       |  SELECT layer, shard, (ord - 1) // $BrinBlock AS block,
       |    MIN(h) AS h_lo, MAX(h) AS h_hi
       |  FROM r GROUP BY layer, shard, (ord - 1) // $BrinBlock),
       |p AS (
       |  SELECT doc_id, h AS ph, shard, layer AS true_layer,
       |    (ord - 1) // $BrinBlock AS true_block
       |  FROM r WHERE doc_id % $ProbeMod = $ProbeRes)
       |SELECT p.doc_id, p.shard, p.true_layer,
       |  CAST(p.true_block AS BIGINT) AS true_block,
       |  COUNT(*) AS n_cand_blocks,
       |  CAST(MAX(CASE WHEN ix.layer = p.true_layer AND ix.block = p.true_block
       |    THEN 1 ELSE 0 END) AS INTEGER) AS is_covered
       |FROM p JOIN ix ON p.shard = ix.shard AND p.ph BETWEEN ix.h_lo AND ix.h_hi
       |GROUP BY p.doc_id, p.shard, p.true_layer, p.true_block
       |ORDER BY p.doc_id""".stripMargin

  /** DuckDB mirror of q212: the manifest shard rule + q57's shingle
    * fingerprints (same 3-word md5-60 hashes, same %50 eval split),
    * flagged membership digest ordered by doc_id. */
  private def exportDecontamAuditOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % $Shards
       |      AS shard
       |  FROM documents WHERE text IS NOT NULL),
       |words AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws
       |  FROM documents WHERE text IS NOT NULL),
       |sh AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS h
       |  FROM words, unnest(generate_series(1, len(ws)-2)) AS u(i)
       |  WHERE len(ws) >= 3),
       |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
       |flag AS (
       |  SELECT DISTINCT doc_id FROM sh
       |  WHERE doc_id % 50 <> 0 AND h IN (SELECT h FROM bench)),
       |per AS (
       |  SELECT shard, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_eval_docs
       |  FROM d GROUP BY shard),
       |ff AS (
       |  SELECT d.shard, COUNT(*) AS n_flagged,
       |    md5(string_agg(CAST(d.doc_id AS VARCHAR), ',' ORDER BY d.doc_id))
       |      AS flagged_md5
       |  FROM d JOIN flag USING (doc_id) GROUP BY d.shard)
       |SELECT per.shard, per.n_docs, per.n_eval_docs,
       |  COALESCE(ff.n_flagged, 0) AS n_flagged,
       |  COALESCE(ff.flagged_md5, '') AS flagged_md5
       |FROM per LEFT JOIN ff USING (shard)
       |ORDER BY per.shard""".stripMargin

  /** DuckDB mirror of q221: q200's kept-doc CTE chain (redacted text
    * included), the manifest shard rule, the same residual/placeholder
    * pattern counts. */
  private def exportPiiAuditOracle: String =
    Pipeline.crawlKeptOracleCtes +
      s""",
         |f AS (
         |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |      % $Shards AS shard,
         |    t
         |  FROM k WHERE rn = 1)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(len(regexp_extract_all(t, '$EmailPat'))) AS BIGINT)
         |    AS n_email_residual,
         |  CAST(SUM(len(regexp_extract_all(t, '$SsnPat'))) AS BIGINT)
         |    AS n_ssn_residual,
         |  CAST(SUM(len(regexp_extract_all(t, '$PhonePat'))) AS BIGINT)
         |    AS n_phone_residual,
         |  CAST(SUM(len(regexp_extract_all(t, '<EMAIL>|<SSN>|<PHONE>'))) AS BIGINT)
         |    AS n_placeholders
         |FROM f GROUP BY shard
         |ORDER BY shard""".stripMargin

  /** DuckDB mirror of q214: same score, same cells, same tie rules,
    * same margin gate. */
  private def preferencePairsOracle: String =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(lower(text), ' ')) // $PrefBucketW AS BIGINT)
       |      AS bucket,
       |    CAST(round(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
       |         / len(string_split(lower(text), ' ')) * 1000000, 0) AS BIGINT)
       |      AS score_micro
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (
       |  SELECT source, doc_id, bucket, score_micro,
       |    ROW_NUMBER() OVER (PARTITION BY source, bucket
       |      ORDER BY score_micro DESC, doc_id) AS rk_top,
       |    ROW_NUMBER() OVER (PARTITION BY source, bucket
       |      ORDER BY score_micro, doc_id DESC) AS rk_bot,
       |    COUNT(*) OVER (PARTITION BY source, bucket) AS n_group
       |  FROM d),
       |t AS (SELECT source, bucket, doc_id AS chosen_id, score_micro AS cs,
       |        n_group FROM r WHERE rk_top = 1),
       |b AS (SELECT source, bucket, doc_id AS rejected_id, score_micro AS rs
       |      FROM r WHERE rk_bot = 1)
       |SELECT t.source, t.bucket, t.chosen_id, b.rejected_id,
       |  t.cs - b.rs AS margin_micro, t.n_group
       |FROM t JOIN b USING (source, bucket)
       |WHERE t.n_group >= 2 AND t.cs - b.rs >= $PrefMarginMin
       |ORDER BY t.source, t.bucket""".stripMargin

  /** DuckDB mirror of q202: q200's shared keep-set CTE chain, with the
    * same reconciliation pin (file_md5 = manifest digest, is_match=1);
    * n_tokens re-derived like the Spark side re-derives it from the
    * written text. */
  private def crawlExportOracle: String =
    Pipeline.crawlKeptOracleCtes +
      """
        |SELECT h % 16 AS shard, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  md5(string_agg(entry, ',' ORDER BY h, doc_id)) AS file_md5,
        |  md5(string_agg(entry, ',' ORDER BY h, doc_id)) AS manifest_md5,
        |  1 AS is_match
        |FROM e GROUP BY 1
        |ORDER BY shard""".stripMargin
}
