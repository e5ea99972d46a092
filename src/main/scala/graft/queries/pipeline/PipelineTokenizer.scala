package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables

/** Tokenizer family (SURVEY §7.5 tokenizers): BPE training/apply/
  * transfer/ablation, packing, SFT masking, detokenization roundtrip,
  * vocab pruning and the grad-accum schedule. The stored BPE model
  * artifacts (ensureBpeModel) live here. Split out of Pipeline.scala
  * (round 18) — pure code motion. */
object PipelineTokenizer {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[QueryDef] = Seq(

    // ---- BPE tokenizer TRAINING (round 14): learn the first 24 merge
    // rules from the corpus, distributed. The scale move is the FIRST
    // step: one corpus-sized explode+groupBy collapses 100 TB of text to
    // its word HISTOGRAM (vocab-sized — ~10M rows for web-scale English,
    // kilobytes here), and every training round after that runs on the
    // histogram, corpus-size-independent. Per round: adjacent symbol
    // pairs are counted corpus-weighted (freq), the argmax pair (ties
    // broken lexicographically — deterministic) becomes merge rule r,
    // and the rule is applied to the vocab via a constant-key broadcast
    // LEFT join (1-row build side -> BroadcastHashJoin, never a
    // cartesian; an exhausted pair vocabulary degrades to a no-op join
    // instead of wiping the frame). Both per-round frames are
    // localCheckpoint'ed — vocab-sized, eager, cuts the 24-round lineage
    // exactly like q76's propagation loop. No .collect(): the argmax
    // stays a 1-row DataFrame end to end. ORACLE-PAIRED: the iterative
    // loop unrolls into 24 generated chained MATERIALIZED CTE rounds
    // (pair-count + argmax + one replace() pass per round) — see
    // bpeOracleCtes for why replace() on the double-pipe token encoding
    // is provably the same greedy left-to-right pass as bpeFoldSql.
    // BpeSpec additionally pins the FULL merge table exactly against an
    // independent in-memory reference implementation, plus determinism
    // across runs. ----
    QueryDef("q150_bpe_train", bpeTrainOracle) { (s, dir) =>
      // Trains AND persists on first touch (ensureBpeModel); the query
      // itself reads the stored 24-row merge table — the shape a model
      // registry consumer sees. The r14 defect (every family member
      // re-training in-query, ~7 redundant corpus scans/run) dies here.
      val (mTbl, _) = ensureBpeModel(s, dir)
      s.table(mTbl)
        .select(col("rank"), col("l"), col("r"),
          concat(col("l"), col("r")).as("merged"), col("cnt"))
        .orderBy(col("rank"))
    },

    // ---- BPE tokenizer APPLICATION (round 14; stored-model probe since
    // round 15): tokenize every document under the q150 model and report
    // subword token counts — the honest token-budget unit (q34/q116's
    // budgets count whitespace words; BPE counts are what an LLM
    // actually consumes). The consumer PLAN contains no training: it
    // probes the write-once tokenized-vocab table (each DISTINCT word
    // tokenized once at model-build time; ~10M rows at web scale, read
    // in place) with one corpus re-join on the word key — never
    // per-document work on the merge rules. Empty-text docs keep
    // n_words = 0 via the left re-join. ORACLE-PAIRED: DuckDB derives
    // the same 24 rules via the unrolled CTE chain, then counts each
    // word's tokens straight off the double-pipe encoding
    // (n_tok = pipes/2) and replays the same corpus re-join. BpeSpec
    // additionally pins per-doc counts exactly against the independent
    // reference tokenizer, multilingual corpus included. ----
    QueryDef("q151_bpe_tokenize", bpeTokenizeOracle) { (s, dir) =>
      val perDoc = bpeDocTokens(s, dir)
      T(s, dir, "documents").select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_tokens_bpe"), lit(0L)).as("n_tokens_bpe"))
        .orderBy(col("doc_id"))
    },

    // ---- q156 (round 14): sequence packing in SUBWORD tokens — q36
    // re-expressed in the budget unit an LLM actually consumes. Same
    // greedy source-ordered packing shape as q36 (per-source running
    // offset, 2048-token context chunks), but the per-doc length is the
    // BPE token count from the q150-trained merge table instead of the
    // whitespace word count. The window is PARTITIONED by source (never
    // global); the per-doc BPE counts probe the same stored vocab as
    // q151 (no training in the plan — round 15). Oracle derives the
    // rules via the unrolled CTE chain and replays the identical
    // packing window. 100 TB
    // shape: tokenization cost = vocab + one corpus join; packing is one
    // source-keyed window over (doc_id, n_tok) pairs — bytes per doc, and
    // a production packer shards the stream (source, day) to bound
    // partitions; no global sort anywhere (final ORDER BY is the
    // chunk-count frame). ----
    QueryDef("q156_bpe_pack", bpePackOracle) { (s, dir) =>
      val perDoc = bpeDocTokens(s, dir)
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "documents").select(col("source"), col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("source"), col("doc_id"),
          coalesce(col("n_tokens_bpe"), lit(0L)).as("n_tok"))
        .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
        .withColumn("chunk", floor(col("start_off") / 2048))
        .groupBy(col("source"), col("chunk"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast(LongType).as("n_tokens"))
        .orderBy(col("source"), col("chunk"))
    },

    // ---- q162 (round 14): tokenizer fertility — the standard
    // multilingual tokenizer eval (tokens-per-word and chars-per-token
    // by language): a vocabulary trained on a skewed language mix
    // "taxes" under-represented languages with more subwords per word,
    // inflating their effective sequence lengths and training cost.
    // MEANINGFUL since round 15: the fixture text is pure ASCII, so the
    // metric is computed over the derived multilingual corpus
    // (bpeCaseSql — CJK/accented/Hangul scripts per lang) with unicode
    // word splitting; the per-lang ratios genuinely diverge (zh ~4.4
    // tok/word vs en ~3.2 at sf0.01) instead of measuring nothing for
    // exactly the scripts the metric exists to protect (VERDICT r14
    // #2). n_chars counts the NFC text's codepoints, both engines.
    // Reuses q151's per-doc BPE counts (stored-vocab probe); ratios
    // are integer-micro DIV on the per-language sums (identical
    // truncation both engines — all values positive). 100 TB shape:
    // rides the vocab-sized tokenization + one corpus join; the report
    // is one #langs-row aggregate off the doc-level frame. ----
    QueryDef("q162_bpe_fertility", bpeFertilityOracle) { (s, dir) =>
      val perDoc = bpeDocTokens(s, dir)
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), length(bpeTextCol).as("nch"))
        .join(perDoc, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("n_words"), lit(0L))).cast(LongType).as("n_words"),
          sum(coalesce(col("n_tokens_bpe"), lit(0L))).cast(LongType).as("n_tokens_bpe"),
          sum(coalesce(col("nch"), lit(0))).cast(LongType).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_tokens_bpe"), col("n_chars"),
          // Zero-guarded (r15 ADVICE): a lang whose docs all tokenize
          // empty reaches this projection with n_words = 0 through the
          // left re-join — Spark's DIV would yield NULL where DuckDB's
          // // errors; both engines now agree on 0.
          when(col("n_words") > 0,
            expr("(n_tokens_bpe * 1000000) DIV n_words")).otherwise(lit(0L))
            .as("fertility_micro"),
          when(col("n_tokens_bpe") > 0,
            expr("(n_chars * 1000000) DIV n_tokens_bpe")).otherwise(lit(0L))
            .as("chars_per_token_micro"))
        .orderBy(col("lang"))
    },

    // ---- q173 (round 15): the TRAINING-READY corpus — q151 counted
    // subword tokens and q156 packed counts, but neither emitted what a
    // trainer actually loads: token-ID sequences. This materializes the
    // packed 2048-token context chunks as ID streams and pins them with
    // an ORDER-SENSITIVE integer digest (Σ (pos_in_chunk+1)·id — the
    // q170 reassembly rule: any reordering, drop, or duplicate shifts
    // the checksum). IDs are the dense rank of the subword string over
    // the final vocab's distinct tokens (binary UTF-8 order — both
    // engines compare strings bytewise), assigned once from the STORED
    // model; merge-rank lookups are what a tokenizer service ships.
    // 100 TB shape: the ID dictionary is subword-vocab-sized (~100k) —
    // its one single-partition window is a dictionary build, not a data
    // path, and it broadcasts to the corpus join; the token stream is
    // one corpus-sized explode with doc-local window indexes; the only
    // cross-doc coordination is the per-source running offset over the
    // doc-LENGTH frame (bytes per doc), the q156 packing window. ----
    QueryDef("q173_bpe_ids", bpeIdsOracle) { (s, dir) =>
      bpeTokenStream(s, dir)
        .groupBy(col("source"), col("chunk"))
        .agg(count(lit(1)).cast(LongType).as("n_tokens"),
          sum((col("pic") + 1) * col("id")).cast(LongType).as("id_checksum"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("source"), col("chunk"))
    },

    // ---- q177 (round 15): FROZEN-MODEL transfer application with OOV
    // fallback — the production tokenizer contract: a model trained on
    // one distribution (here: the English slice, the classic
    // English-centric-tokenizer setup) is FROZEN and applied to
    // everything, including words its vocab cache has never seen. Known
    // words probe the stored en-model vocab; OOV words (most of
    // zh/de/es/fr under this model) are DISTINCT'd first and tokenized
    // once by folding the frozen merge list — never merges × corpus,
    // and exactly what the model does to them (BPE degrades gracefully:
    // unseen scripts fall back toward per-character tokens, which is
    // the transfer tax this query measures). Output per lang: word/OOV/
    // token counts + integer-micro OOV rate and fertility — the
    // quantified "English tokenizer taxes other scripts" table next to
    // q162's matched-model fertility. ORACLE: the generated CTE chain
    // trained on the lang='en' slice, plus a second generated chain
    // applying the SAME b_k rules to the distinct OOV words. 100 TB
    // shape: model broadcast; OOV fold per DISTINCT word; one corpus
    // join; #langs-row aggregate. ----
    QueryDef("q177_bpe_transfer", bpeTransferOracle) { (s, dir) =>
      val (mTbl, vTbl) = ensureBpeEnModel(s, dir)
      val mergesArr = s.table(mTbl)
        .agg(sort_array(collect_list(struct(col("rank"), col("l"), col("r"))))
          .as("ms"))
        .select(lit(1).as("k"), col("ms"))
      val known = s.table(vTbl)
        .select(col("w"), size(col("toks")).as("n_tok"), lit(0L).as("oov"))
      val words = T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(bpeWordsCol).as("w"))
        .filter(length(col("w")) > 0)
      val oov = words.select(col("w")).distinct()
        .join(known.select(col("w")), Seq("w"), "left_anti")
        .withColumn("syms", split(col("w"), ""))
        .withColumn("k", lit(1))
        .join(broadcast(mergesArr), Seq("k"), "left")
        .select(col("w"),
          size(expr(s"aggregate(ms, syms, (cur, m) -> ${bpeFoldSql("cur", "m.l", "m.r")})"))
            .as("n_tok"),
          lit(1L).as("oov"))
      words.join(known.unionByName(oov), Seq("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("oov")).cast(LongType).as("n_oov_words"),
          sum(col("n_tok")).cast(LongType).as("n_tokens_bpe"))
        .select(col("lang"), col("n_words"), col("n_oov_words"),
          col("n_tokens_bpe"),
          // n_words >= 1 in every group by construction (inner join);
          // guarded anyway so both engines agree on degenerate input
          // (r15 ADVICE zero-guard rule).
          when(col("n_words") > 0,
            expr("(n_oov_words * 1000000) DIV n_words")).otherwise(lit(0L))
            .as("oov_rate_micro"),
          when(col("n_words") > 0,
            expr("(n_tokens_bpe * 1000000) DIV n_words")).otherwise(lit(0L))
            .as("fertility_micro"))
        .orderBy(col("lang"))
    },

    // ---- q192 (round 15): PACKED-SEQUENCE ATTENTION BOUNDARIES —
    // the metadata q173's packing is not trainable WITHOUT: packing
    // concatenates documents into 2048-token chunks, and a trainer
    // that lets attention flow across the internal document joins
    // corrupts every sequence (the block-diagonal attention-mask /
    // position-id-reset requirement). From the stored-model per-doc
    // token counts alone (doc-level arithmetic — the token stream is
    // NEVER exploded here), each doc's [start, end) span is
    // intersected with the chunks it crosses; per (source, chunk):
    // segment count, packed tokens (cross-checks q173's n_tokens),
    // max segment length, and an order-sensitive boundary checksum
    // Σ (local_start+1)·doc_id — a shifted boundary, a lost segment,
    // or a wrong chunk split hash-fails. ORACLE: the generated BPE
    // chain's perdoc CTE + the same window/intersection arithmetic.
    // 100 TB shape: ONE doc-level window per source (doc-COUNT rows,
    // not token count); chunk spans explode to ~(n_tok/2048 + 1) rows
    // per doc; the report aggregate is chunk-keyed. ----
    QueryDef("q192_pack_boundaries", packBoundariesOracle) { (s, dir) =>
      val perDoc = bpeDocTokens(s, dir).filter(col("n_tokens_bpe") > 0)
      val offs = T(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .join(perDoc.select(col("doc_id"), col("n_tokens_bpe").as("nt")), Seq("doc_id"))
        .withColumn("start_off",
          sum(col("nt")).over(Window.partitionBy(col("source"))
            .orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("nt"))
      val segs = offs
        .select(col("source"), col("doc_id"), col("start_off"), col("nt"),
          explode(sequence(expr("start_off DIV 2048"),
            expr("(start_off + nt - 1) DIV 2048"))).as("chunk"))
        .withColumn("ls", greatest(lit(0L), col("start_off") - col("chunk") * 2048))
        .withColumn("le",
          least(lit(2048L), col("start_off") + col("nt") - col("chunk") * 2048))
      segs.groupBy(col("source"), col("chunk"))
        .agg(count(lit(1)).as("n_segments"),
          sum(col("le") - col("ls")).cast(LongType).as("n_tokens"),
          max(col("le") - col("ls")).cast(LongType).as("max_seg_len"),
          sum((col("ls") + 1) * col("doc_id")).cast(LongType).as("boundary_checksum"))
        .orderBy(col("source"), col("chunk"))
    },

    // ---- q196 (round 15): TOKENIZER VOCAB PRUNING — the model-
    // lifecycle op (tokenizer distillation / embedding-matrix diet):
    // merges whose MERGED symbol carries < 1% of the corpus's final
    // tokens are dropped (fixture usage spans 0.7-2.0%, so the cut
    // genuinely bites: 9 of 24 merges survive), every word is re-tokenized under the pruned
    // rule list, and the per-language fertility cost is measured.
    // Deliberately NAIVE usage-based pruning — a dropped intermediate
    // merge also breaks every later merge that consumed its output,
    // and the cost table makes that chain-break tax visible instead of
    // hiding it (the honest version of the experiment). Usage rides
    // the stored vocab (token explode × stored freq — vocab-sized, no
    // corpus rescan); re-tokenization is the q177 fold with the PRUNED
    // broadcast rule array over distinct words; the report joins the
    // corpus once. ORACLE: the generated chain + a usage CTE
    // (replace-count over the final tokenizations) + 24 CONDITIONAL
    // re-apply rounds, each a no-op when its rank was pruned. 100 TB
    // shape: usage/prune/re-tokenize are all vocab-sized; the merge
    // array broadcasts; ONE corpus join for the report. ----
    QueryDef("q196_vocab_prune", vocabPruneOracle) { (s, dir) =>
      val (mTbl, vTbl) = ensureBpeModel(s, dir)
      val tokUse = s.table(vTbl)
        .select(col("freq"), explode(col("toks")).as("token"))
        .groupBy(col("token")).agg(sum(col("freq")).cast(LongType).as("used"))
      val tot = s.table(vTbl)
        .agg(sum(col("freq") * size(col("toks"))).cast(LongType).as("total"))
      val keptArr = s.table(mTbl)
        .withColumn("token", concat(col("l"), col("r")))
        .join(tokUse, Seq("token"), "left")
        .crossJoin(broadcast(tot))
        .filter(coalesce(col("used"), lit(0L)) * 100 >= col("total"))
        .agg(sort_array(collect_list(struct(col("rank"), col("l"), col("r"))))
          .as("ms"))
        .select(lit(1).as("k"), col("ms"))
      val pruned = s.table(vTbl)
        .withColumn("syms", split(col("w"), ""))
        .withColumn("k", lit(1))
        .join(broadcast(keptArr), Seq("k"), "left")
        .select(col("w"), size(col("toks")).as("nt_full"),
          size(expr(bpeApplySql)).as("nt_pruned"),
          size(col("ms")).as("n_kept"))
      val words = T(s, dir, "documents")
        .select(col("lang"), explode(bpeWordsCol).as("w"))
        .filter(length(col("w")) > 0)
      words.join(pruned, Seq("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("nt_full")).cast(LongType).as("n_tokens_full"),
          sum(col("nt_pruned")).cast(LongType).as("n_tokens_pruned"),
          max(col("n_kept")).cast(LongType).as("n_merges_kept"))
        .select(col("lang"), col("n_words"), col("n_tokens_full"),
          col("n_tokens_pruned"), col("n_merges_kept"),
          // n_tokens_full >= 1 per group (inner join, >=1 token/word);
          // guarded for cross-engine agreement on degenerate input.
          when(col("n_tokens_full") > 0,
            expr("(n_tokens_pruned * 1000000) DIV n_tokens_full")).otherwise(lit(0L))
            .as("cost_micro"))
        .orderBy(col("lang"))
    },

    // ---- q205 (round 16): SFT LOSS MASKING — the objective-
    // construction step for instruction tuning (q184 builds the T5
    // denoising pair; causal SFT instead trains on the SAME token
    // stream with the PROMPT positions masked out of the loss): the
    // deterministic prompt/completion split takes the first
    // ceil(n_words/3) word positions as the prompt, every BPE token id
    // under them is loss-masked (the -100 convention), and the doc row
    // pins both streams with order-sensitive integer checksums —
    // Σ (tok_idx+1)·id over ALL tokens (the input) and over completion
    // tokens only (the labels). A shifted boundary, a dropped token,
    // or a wrong id mapping hash-fails; input = prompt ⊕ labels by
    // construction (checksum additivity, CurationSpec-pinned). 100 TB
    // shape: rides the STORED vocab (one corpus word join, vocab-sized
    // id dictionary broadcast); one doc-keyed window for tok_idx + one
    // doc-keyed agg; output #docs rows. ----
    QueryDef("q205_sft_mask", sftMaskOracle) { (s, dir) =>
      val (_, vTbl) = ensureBpeModel(s, dir)
      // One-aggregate id dictionary (round 22) — see bpeTokenIds.
      val ids = bpeTokenIds(s, vTbl)
      val lens = Tables.loadSpread(s, dir, "documents")
        .select(col("doc_id"), size(bpeWordsCol).as("nw"))
      bpeCorpusWords(s, dir)
        .join(s.table(vTbl).select(col("w"), col("toks")), Seq("w"))
        .select(col("doc_id"), col("wp"), posexplode(col("toks")))
        .toDF("doc_id", "wp", "tp", "token")
        .join(broadcast(ids), Seq("token"))
        .withColumn("tok_idx",
          (row_number().over(Window.partitionBy(col("doc_id"))
            .orderBy(col("wp"), col("tp"))) - 1).cast(LongType))
        .join(lens, Seq("doc_id"))
        // wp is 0-based here (wp < cut); the oracle's wp is 1-based
        // (wp <= cut) — both select the identical first-cut-words prefix.
        .withColumn("is_prompt",
          (col("wp") < expr("(nw + 2) DIV 3")).cast(IntegerType))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("is_prompt")).cast(LongType).as("n_prompt_tokens"),
          sum(lit(1) - col("is_prompt")).cast(LongType).as("n_trainable_tokens"),
          sum((col("tok_idx") + 1) * col("id")).cast(LongType).as("input_checksum"),
          sum(when(col("is_prompt") === 0, (col("tok_idx") + 1) * col("id"))
            .otherwise(lit(0L))).cast(LongType).as("label_checksum"))
        .orderBy(col("doc_id"))
    },

    // ---- q213 (round 16): DETOKENIZATION ROUND-TRIP — the lifecycle
    // pin the tokenizer family still lacked (q151 encodes, q173 packs,
    // q205 masks; nothing yet PROVES decode(encode(corpus)) == corpus
    // — the property that makes a stored tokenizer safe to ship, and
    // exactly what a corrupted vocab artifact, a drifted apply rule,
    // or a lossy pre-tokenization would break): every corpus word is
    // re-joined to the STORED vocab artifact, its pieces concatenated
    // back (BPE merges only ever concatenate adjacent symbols, so the
    // reassembly must be byte-identical), and per source the query
    // ships word/lossless counts plus an order-pinned digest of the
    // DETOKENIZED corpus against the same digest of the source words —
    // is_match = 1 or the artifact is unshippable. 100 TB shape: ONE
    // vocab equi-join (vocab-sized build side) + per-doc digests
    // (bounded by doc length, the q98/q170 rule) + per-source
    // digest-of-digests; no corpus-sized sort, no driver state. ----
    QueryDef("q213_detok_roundtrip", detokRoundtripOracle) { (s, dir) =>
      val (_, vTbl) = ensureBpeModel(s, dir)
      val words = bpeCorpusWords(s, dir)
        .join(s.table(vTbl).select(col("w"), col("toks")), Seq("w"))
        .select(col("source"), col("doc_id"), col("wp"), col("w"),
          array_join(col("toks"), "").as("rw"))
      val perDoc = words.groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("nw"),
          sum((col("rw") === col("w")).cast(LongType)).cast(LongType).as("nl"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("wp"), col("rw")))),
              x => x.getField("rw")), " ")).as("rmd5"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("wp"), col("w")))),
              x => x.getField("w")), " ")).as("smd5"))
      perDoc.groupBy(col("source"))
        .agg(sum(col("nw")).cast(LongType).as("n_words"),
          sum(col("nl")).cast(LongType).as("n_lossless"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("doc_id"), col("rmd5")))),
              x => x.getField("rmd5")), ",")).as("detok_md5"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("doc_id"), col("smd5")))),
              x => x.getField("smd5")), ",")).as("source_md5"))
        .select(col("source"), col("n_words"), col("n_lossless"),
          col("detok_md5"), col("source_md5"),
          (col("detok_md5") === col("source_md5")).cast(IntegerType).as("is_match"))
        .orderBy(col("source"))
    },

    // ---- q227 (round 16): GRADIENT-ACCUMULATION SCHEDULE — the last
    // accounting step between packed bins and an optimizer (a trainer
    // at global batch 4×2048 consumes q156's chunks four at a time;
    // the schedule must state how many optimizer steps each source
    // contributes, which steps are FULL — constant token mass, the
    // property LR schedules assume — and how many tail chunks the
    // final partial step holds): q156's pack table (the registry
    // operator verbatim, the q138 convention) grouped into steps of 4
    // chunks per source, with full-step token bounds reported
    // honestly (chunks straddle document boundaries, so full-step
    // masses vary around 4×2048 — the report QUANTIFIES that instead
    // of asserting it away). 100 TB shape: rides q156's audited plan;
    // the schedule itself is two keyed aggregations over the
    // #chunks-row pack table; output #sources rows. ----
    QueryDef("q227_grad_accum", gradAccumOracle) { (s, dir) =>
      val steps = Registry.byName("q156_bpe_pack").build(s, dir)
        .withColumn("step", expr("chunk DIV 4"))
        .groupBy(col("source"), col("step"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).cast(LongType).as("step_tokens"))
      steps.groupBy(col("source"))
        .agg(count(lit(1)).as("n_steps"),
          sum(when(col("n_chunks") === 4, 1L).otherwise(0L)).cast(LongType)
            .as("n_full_steps"),
          sum(when(col("n_chunks") =!= 4, col("n_chunks")).otherwise(lit(0L)))
            .cast(LongType).as("tail_chunks"),
          coalesce(min(when(col("n_chunks") === 4, col("step_tokens"))), lit(0L))
            .as("full_tokens_min"),
          coalesce(max(when(col("n_chunks") === 4, col("step_tokens"))), lit(0L))
            .as("full_tokens_max"),
          sum(col("step_tokens")).cast(LongType).as("total_tokens"))
        .orderBy(col("source"))
    },

    // ---- q228 (round 16): MERGE-COUNT ABLATION — the vocab-size
    // engineering question the stored-model family can now answer
    // cheaply (how much fertility does each doubling of the merge
    // count buy?): the FIRST k merges of the stored 64-round model
    // (k = 16/32/64 — a BPE model's merge list is prefix-closed, so
    // the k-merge model IS the stored model's prefix) re-applied to
    // the corpus word histogram via the shared fold, reporting corpus
    // fertility and emitted-vocab size per k. The oracle reads the
    // SAME numbers off the generated chain's intermediate rounds
    // (v16/v32/v64), so the stored artifact's prefixes are pinned
    // against an independently-derived training history. 100 TB
    // shape: every leg is vocab-sized work over the one corpus-sized
    // histogram (the q150 invariant); merge prefixes ride the q151
    // 1-row broadcast array. ----
    QueryDef("q228_merge_ablation", mergeAblationOracle) { (s, dir) =>
      val (mTbl, _) = ensureBpeModel(s, dir)
      val hist = bpeWordHist(s, dir).persist()
      val legs = Seq(16, 32, 64).map { k =>
        val mergesArr = s.table(mTbl).filter(col("rank") <= k)
          .agg(sort_array(collect_list(struct(col("rank"), col("l"), col("r"))))
            .as("ms"))
          .select(lit(1).as("kk"), col("ms"))
        val applied = hist
          .withColumn("syms", split(col("w"), ""))
          .withColumn("kk", lit(1))
          .join(broadcast(mergesArr), Seq("kk"))
          .select(col("freq"), expr(bpeApplySql).as("toks"))
          .persist()
        val stats = applied.agg(
          sum(col("freq")).cast(LongType).as("n_words"),
          sum(col("freq") * size(col("toks"))).cast(LongType).as("n_tokens"))
        val vocab = applied.select(explode(col("toks")).as("t"))
          .agg(countDistinct(col("t")).as("vocab_size"))
        stats.crossJoin(vocab)
          .select(lit(k.toLong).as("n_merges"), col("n_words"),
            col("n_tokens"),
            expr("(n_tokens * 1000000) DIV n_words").as("fertility_micro"),
            col("vocab_size"))
      }
      legs.reduce(_ unionByName _).orderBy(col("n_merges"))
    },

  )
  /** Merge count learned by q150 / applied by q151. 24 is deep enough to
    * grow multi-character subwords on the fixture vocabulary while
    * keeping the training loop's job count bench-friendly. */
  // Compile-time constant: `defs` builds the generated oracles during
  // object init, BEFORE later vals assign. Raised 24 → 64 in round 16
  // (r15 VERDICT #7) after measuring the DuckDB chained-CTE oracle at
  // sf0.01: 24 rounds 0.4 s, 64 rounds 1.5 s, 128 rounds 5.4 s — the
  // generated chain bounds fine, so the whole family (train + every
  // consumer + every oracle, all parameterized on this constant) moves
  // to the larger model together. Spark-side training cost is a
  // write-once charge (ensureBpeModel) paid in Bench's untimed warm-up.
  private[graft] final val BpeMerges = 64

  /** Transliteration alphabet for the zh corpus slice: a..p -> U+4E00..
    * U+4E0F, q -> U+20BB7 (a 4-byte supplementary char, deliberately —
    * it pins surrogate-pair handling through the whole distributed path
    * AND the oracle), r..z -> U+4E10..U+4E18. Compile-time literals:
    * the generated oracles read these during object init. */
  private final val BpeLatin = "abcdefghijklmnopqrstuvwxyz"

  private final val BpeCjk = "一丁丂七丄丅丆万丈三上下丌不与丏𠮷丐丑丒专且丕世丗丘"

  // NFD building blocks (explicit escapes so no editor/encoding pass can
  // silently precompose them): combining diaeresis after a/o, decomposed
  // Hangul jamo GA — NFC composes all three.
  private final val BpeDeA = "a\u0308"

  private final val BpeDeO = "o\u0308"

  private final val BpeDeU = "\u1100\u1161"

  /** The multilingual BPE corpus, derived deterministically from the
    * fixture (whose text is pure lowercase ASCII — vacuous for a
    * unicode tokenizer, VERDICT r14 #2): each lang's documents are
    * transliterated into their script with the SAME scan-local
    * translate/replace construction in both engines, so the oracle sees
    * byte-identical text.
    *   - zh: letters -> CJK ideographs (incl. one 4-byte char);
    *   - de: 'a'/'o' -> NFD combining-diaeresis sequences, 'u' -> NFD
    *     Hangul jamo (NFC composes them to ae/oe umlauts and a Hangul
    *     syllable — exercising canonical composition end to end);
    *   - es/fr: vowels/c -> precomposed accents;
    *   - en: unchanged.
    * Shared verbatim by Spark (wrapped in graft_nfc) and DuckDB
    * (wrapped in nfc_normalize): plain SQL, no backslashes, so the two
    * parsers cannot diverge on escaping. */
  private[graft] def bpeCaseSql: String =
    s"""CASE lang
       |      WHEN 'zh' THEN translate(lower(text), '$BpeLatin', '$BpeCjk')
       |      WHEN 'de' THEN replace(replace(replace(lower(text),
       |        'a', '$BpeDeA'), 'o', '$BpeDeO'), 'u', '$BpeDeU')
       |      WHEN 'es' THEN translate(lower(text), 'aeioun', 'áéíóúñ')
       |      WHEN 'fr' THEN translate(lower(text), 'aec', 'àéç')
       |      ELSE lower(text) END""".stripMargin

  /** NFC-normalized derived corpus text (Spark side). */
  private[graft] def bpeTextCol: Column = expr(s"graft_nfc($bpeCaseSql)")

  /** Unicode-word pre-tokenization: letters-or-digits runs of ANY
    * script ([^\p{L}\p{N}]+ split — Java and RE2 agree on the property
    * classes), after NFC. Non-Latin text tokenizes for real now instead
    * of contributing zero tokens (the r14 a-z0-9-only gap). */
  private[graft] def bpeWordsCol: Column =
    split(bpeTextCol, "[^\\p{L}\\p{N}]+")

  /** Corpus -> corpus-weighted word histogram (the one corpus-sized step
    * of the BPE family; everything downstream is vocab-sized). */
  private[graft] def bpeWordHist(
      s: SparkSession, dir: String, docFilter: Column = lit(true)): DataFrame =
    T(s, dir, "documents")
      .filter(docFilter)
      .select(explode(bpeWordsCol).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Corpus -> (source, doc_id, word-position, word), the exploded form
    * every consumer re-joins to the stored vocab. */
  private[graft] def bpeCorpusWords(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("source"), col("doc_id"), posexplode(bpeWordsCol))
      .toDF("source", "doc_id", "wp", "w")
      .filter(length(col("w")) > 0)

  /** Apply a ranked merge array `ms` to a char-split `syms` column —
    * the frozen-model application expression shared by the vocab build,
    * q177's OOV fallback, and q179's ingest-time fallback. */
  private[graft] def bpeApplySql: String =
    s"aggregate(ms, syms, (cur, m) -> ${bpeFoldSql("cur", "m.l", "m.r")})"

  /** One left-to-right BPE merge pass as a SQL fold: every non-
    * overlapping adjacent (l, r) in the symbol array becomes the
    * concatenated symbol, scanning left to right (the classic algorithm's
    * replacement order — "aaaa" with rule (a,a) gives [aa, aa]). Shared
    * verbatim by training and application so the two cannot drift. */
  private def bpeFoldSql(symsExpr: String, lExpr: String, rExpr: String): String =
    s"""aggregate($symsExpr, cast(array() as array<string>), (acc, x) ->
       |  case when size(acc) = 0 then array(x)
       |       when element_at(acc, -1) = $lExpr and x = $rExpr
       |         then concat(slice(acc, 1, size(acc) - 1), array(concat($lExpr, $rExpr)))
       |       else concat(acc, array(x)) end)""".stripMargin

  /** The q150 training loop: `nMerges` rounds of corpus-weighted pair
    * count -> deterministic argmax -> vocab-wide rule application over
    * the supplied word histogram. Returns the merge table
    * (rank, l, r, cnt). */
  private[graft] def bpeTrain(hist: DataFrame, nMerges: Int): DataFrame = {
    var words = hist
      .withColumn("syms", split(col("w"), ""))
      .select(col("freq"), col("syms"))
      .localCheckpoint() // eager: corpus lineage ends here, vocab-sized
    var merges: DataFrame = null
    for (rank <- 1 to nMerges) {
      val best = words
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) as l, element_at(syms, i + 1) as r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).cast(LongType).as("cnt"))
        .orderBy(desc("cnt"), col("l"), col("r")).limit(1)
        .select(lit(rank).as("rank"), col("l"), col("r"), col("cnt"))
      // NOT checkpointed: the words checkpoint below materializes best_r
      // inside its own job, and the final merge-table materialization
      // recomputes each best_r as one aggregate over its CHECKPOINTED
      // words_r — linear, vocab-sized. A per-round best checkpoint would
      // double the job count (the dominant cost of a 24-round loop).
      merges = if (merges == null) best else merges.union(best)
      words = words
        .withColumn("k", lit(1))
        .join(broadcast(best.select(lit(1).as("k"), col("l"), col("r"))), Seq("k"), "left")
        .withColumn("syms",
          when(col("l").isNull, col("syms"))
            .otherwise(expr(bpeFoldSql("syms", "l", "r"))))
        .select(col("freq"), col("syms"))
        .localCheckpoint()
      // Per-round eager checkpointing is MEASURED, not cargo-culted:
      // checkpointing every 6th round instead (lazy chains between)
      // took isolated q150 at sf0.1 from 6.4-7.2 s to 15-16 s — each
      // broadcast argmax re-plans the un-checkpointed chain, and
      // Catalyst optimization of the deepening nested-fold expression
      // tree dwarfs the saved checkpoint jobs. The ~6 s the family
      // benches is a corpus-INDEPENDENT job floor (sf0.01 and sf0.1
      // time identically): 24 rounds x (argmax broadcast + checkpoint)
      // of vocab-sized work — at 100 TB the same ~50 jobs amortize over
      // the one corpus-sized histogram shuffle.
    }
    merges
  }

  // The BPE model as a STORED artifact (VERDICT r14 #1): training is
  // write-once per (JVM, source dir) — q150 trained the same 24 rules
  // FOUR times per gate/bench run in r14 (q150/q151/q156/q162 each
  // re-deriving it, ~7 redundant corpus-sized scans, 17% of the bench).
  // Now one training run persists TWO tables and every consumer probes:
  //   - graft_bpe_merges_<dir>: the 24-row merge table (rank, l, r, cnt)
  //     — the model a tokenizer service ships;
  //   - graft_bpe_vocab_<dir>: every distinct word with its full
  //     tokenization (w, freq, toks), bucketed+sorted on w — at 100 TB
  //     this is the ~10M-row cache that turns tokenization into one
  //     corpus-side join against an in-place bucketed read (the
  //     ensureBenchGramTable / ensureScd2Base pattern).
  private val bpeModelDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Returns the dir-qualified (mergesTable, vocabTable) names for the
    * whole-corpus model. */
  private[graft] def ensureBpeModel(s: SparkSession, dir: String): (String, String) =
    ensureBpeModelTagged(s, dir, "", lit(true))

  /** The ENGLISH-ONLY model (q177): trained on the lang='en' slice —
    * the domain-shift artifact the transfer experiment applies to the
    * whole multilingual corpus. */
  private[graft] def ensureBpeEnModel(s: SparkSession, dir: String): (String, String) =
    ensureBpeModelTagged(s, dir, "en_", col("lang") === "en")

  private def ensureBpeModelTagged(
      s: SparkSession, dir: String, tag: String, docFilter: Column): (String, String) =
    synchronized {
      val dirKey = graft.BuildPaths.dirKey(dir)
      val memoKey = s"$tag|$dir"
      val mTbl = s"graft_bpe_${tag}merges_$dirKey"
      val vTbl = s"graft_bpe_${tag}vocab_$dirKey"
      if (!(bpeModelDirs.contains(memoKey) &&
            s.catalog.tableExists(mTbl) && s.catalog.tableExists(vTbl))) {
        val root = graft.BuildPaths.scratch(s"bpe_model/$tag$dirKey")
        // ONE corpus-sized histogram feeds both training and the vocab
        // tokenization; the localCheckpoint inside bpeTrain materializes
        // it vocab-sized before the 24 rounds run.
        val hist = bpeWordHist(s, dir, docFilter)
        bpeTrain(hist, BpeMerges)
          .write.mode("overwrite")
          .option("path", s"$root/$mTbl")
          .format("parquet").saveAsTable(mTbl)
        // Tokenize each DISTINCT word once: the ranked merge list rides
        // ONE broadcast array row, folded over the char split by the
        // same bpeFoldSql pass training uses — vocab-sized, never
        // merges × corpus.
        val mergesArr = s.table(mTbl)
          .agg(sort_array(collect_list(struct(col("rank"), col("l"), col("r"))))
            .as("ms"))
          .select(lit(1).as("k"), col("ms"))
        hist
          .withColumn("syms", split(col("w"), ""))
          .withColumn("k", lit(1))
          .join(broadcast(mergesArr), Seq("k"), "left")
          .select(col("w"), col("freq"),
            expr(s"aggregate(ms, syms, (cur, m) -> ${bpeFoldSql("cur", "m.l", "m.r")})")
              .as("toks"))
          .write.mode("overwrite")
          .bucketBy(8, "w").sortBy("w")
          .option("path", s"$root/$vTbl")
          .format("parquet").saveAsTable(vTbl)
        bpeModelDirs.add(memoKey)
      }
      (mTbl, vTbl)
    }

  /** The dense token-id dictionary over the stored vocab's distinct
    * subword tokens (binary UTF-8 order), shared by q173's packed
    * stream and q205's mask builder. Round 22 (guide §2.4): this was
    * distinct + a GLOBAL-window row_number — two exchanges plus a
    * single-partition WindowExec sort (the two serial ~0.4-0.55 s
    * 1-task stages in the q173 probe). One aggregate yields the
    * identical dictionary: collect_set dedups map-side, sort_array
    * sorts with the same binary UTF-8 ordering the window's
    * orderBy(token) used, and posexplode's 0-based pos + 1 IS
    * row_number over that order. Dictionary-sized at any corpus
    * (chars ∪ merge products), so the one-row array is kilobytes. */
  private def bpeTokenIds(s: SparkSession, vTbl: String): DataFrame =
    s.table(vTbl)
      .select(explode(col("toks")).as("token"))
      .agg(sort_array(collect_set(col("token"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("p0", "token")))
      .select(col("token"), (col("p0") + 1).cast(LongType).as("id"))

  /** Shared by q151/q156/q162: per-doc subword token counts by PROBING
    * the stored vocab (no training in the consumer plan — the model is
    * read in place; StorageLayoutSpec asserts the plan shape). One
    * corpus join on the word key, vocab-sized everything else. */
  /** The packed stored-vocab token-id stream — (source, doc_id, chunk,
    * pic, id) with pic the position inside its fixed 2048-token chunk —
    * shared by q173 (the logical checksums) and q237's materialized
    * tensor export (the no-drift rule: the files ship exactly the
    * stream the checksums pin). */
  private[graft] def bpeTokenStream(s: SparkSession, dir: String): DataFrame = {
    val (_, vTbl) = ensureBpeModel(s, dir)
    val ids = bpeTokenIds(s, vTbl)
    // (Round 22 note: a .persist() of this two-consumer stream was
    // A/B-measured NEGATIVE (1.41 -> 1.56 s at sf0.1) and reverted —
    // AQE's exchange reuse already dedups the doubly-planned subtree at
    // runtime, so the cache fill was pure overhead.)
    val toks = bpeCorpusWords(s, dir)
      .join(s.table(vTbl).select(col("w"), col("toks")), Seq("w"))
      .select(col("source"), col("doc_id"), col("wp"), posexplode(col("toks")))
      .toDF("source", "doc_id", "wp", "tp", "token")
      .join(broadcast(ids), Seq("token"))
      .withColumn("tok_idx",
        (row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("wp"), col("tp"))) - 1).cast(LongType))
    val offs = toks.groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_tok"))
      .withColumn("start_off",
        sum(col("n_tok")).over(Window.partitionBy(col("source"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("n_tok"))
      .select(col("doc_id"), col("start_off"))
    toks.join(offs, Seq("doc_id"))
      .withColumn("pos", col("start_off") + col("tok_idx"))
      .withColumn("chunk", expr("pos DIV 2048"))
      .withColumn("pic", col("pos") % 2048)
      .select(col("source"), col("doc_id"), col("chunk"), col("pic"), col("id"))
  }

  private def bpeDocTokens(s: SparkSession, dir: String): DataFrame = {
    val (_, vTbl) = ensureBpeModel(s, dir)
    val vocab = s.table(vTbl).select(col("w"), size(col("toks")).as("n_tok"))
    bpeCorpusWords(s, dir)
      .join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).cast(LongType).as("n_tokens_bpe"))
  }

  /** DuckDB mirror of bpeTrain, generated: the 24-round loop unrolled
    * into chained MATERIALIZED CTEs (MATERIALIZED is load-bearing —
    * each round references its predecessor 3×, so inlined CTEs would
    * blow up 3^24). Each word's tokenization is carried as a
    * DOUBLE-PIPE string ("|a||b||c|" = [a,b,c]): one merge pass is then
    * exactly `replace(s, '|l||r|', '|lr|')`, because SQL replace scans
    * the ORIGINAL string left to right non-overlapping — the same
    * greedy pass as bpeFoldSql (a merged product can never re-match
    * within its own pass: as the left of a new pair it would need
    * l+r = l, impossible; as the right, the scan is already past it).
    * Rounds after pair exhaustion no-op via the NULL scalar subquery +
    * coalesce. Token count falls out as pipes/2. */
  /** DuckDB-side derived corpus text / word split — the byte-identical
    * twins of bpeTextCol/bpeWordsCol (same CASE fragment, nfc_normalize
    * for graft_nfc, RE2 \p classes for Java's — parity of NFC, the
    * property classes, per-codepoint '.'-matching and 4-byte chars was
    * probe-verified cross-engine before this landed). */
  private[graft] def bpeOracleText: String = s"nfc_normalize($bpeCaseSql)"

  private[graft] def bpeOracleWords: String =
    s"""string_split_regex($bpeOracleText, '[^\\p{L}\\p{N}]+')"""

  private def bpeOracleCtes(n: Int, extraWhere: String = ""): String =
    "WITH " + bpeOracleCtesBody(n, extraWhere)

  /** The chain without the WITH prefix, for composition into combined
    * oracles (q178 runs the BPE and unigram chains in ONE query). */
  private[graft] def bpeOracleCtesBody(n: Int, extraWhere: String = ""): String = {
    val v0 =
      s"""v0 AS MATERIALIZED (
         |  SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS s, freq FROM (
         |    SELECT w, COUNT(*) AS freq FROM (
         |      SELECT unnest($bpeOracleWords) AS w
         |      FROM documents WHERE text IS NOT NULL$extraWhere)
         |    WHERE len(w) > 0 GROUP BY w))""".stripMargin
    val rounds = (1 to n).map { k =>
      s"""b$k AS MATERIALIZED (
         |  SELECT $k AS rank, l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT t.toks[i] AS l, t.toks[i+1] AS r, t.freq
         |    FROM (SELECT string_split(substr(s, 2, len(s) - 2), '||') AS toks, freq
         |          FROM v${k - 1}) t,
         |         unnest(generate_series(1, len(t.toks) - 1)) AS u(i)
         |    WHERE len(t.toks) >= 2)
         |  GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT coalesce(replace(s,
         |      (SELECT '|' || l || '||' || r || '|' FROM b$k),
         |      (SELECT '|' || l || r || '|' FROM b$k)), s) AS s, freq
         |  FROM v${k - 1})""".stripMargin
    }
    (v0 +: rounds).mkString(",\n")
  }

  /** Per-doc subword counts in DuckDB (q151/q156's shared tail): token
    * count per word straight off the double-pipe encoding, then the
    * same corpus re-join as bpeDocTokens. */
  private[graft] def bpeOracleDocCtes: String =
    s""",
       |wtok AS MATERIALIZED (
       |  SELECT translate(s, '|', '') AS w,
       |    CAST((len(s) - len(replace(s, '|', ''))) / 2 AS BIGINT) AS n_tok
       |  FROM v$BpeMerges),
       |perdoc AS (
       |  SELECT d.doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(wt.n_tok) AS BIGINT) AS n_tokens_bpe
       |  FROM (SELECT doc_id, unnest($bpeOracleWords) AS w
       |        FROM documents WHERE text IS NOT NULL) d
       |  JOIN wtok wt ON wt.w = d.w
       |  WHERE len(d.w) > 0
       |  GROUP BY d.doc_id)""".stripMargin

  private def bpeTrainOracle: String = {
    val union = (1 to BpeMerges)
      .map(k => s"SELECT rank, l, r, l || r AS merged, cnt FROM b$k")
      .mkString("\nUNION ALL ")
    bpeOracleCtes(BpeMerges) + "\nSELECT * FROM (\n" + union + ")\nORDER BY rank"
  }

  private def bpeTokenizeOracle: String =
    bpeOracleCtes(BpeMerges) + bpeOracleDocCtes +
      """
        |SELECT doc.doc_id, coalesce(p.n_words, 0) AS n_words,
        |  coalesce(p.n_tokens_bpe, 0) AS n_tokens_bpe
        |FROM documents doc LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY doc.doc_id""".stripMargin

  /** DuckDB mirror of q162: the CTE-chain tokenization + the same
    * per-language integer-micro ratios ("//" floors, Spark DIV
    * truncates — identical on these all-positive sums). */
  private def bpeFertilityOracle: String =
    bpeOracleCtes(BpeMerges) + bpeOracleDocCtes +
      s""",
        |f AS (
        |  SELECT d.lang, coalesce(p.n_words, 0) AS nw,
        |    coalesce(p.n_tokens_bpe, 0) AS nt,
        |    coalesce(len($bpeOracleText), 0) AS nch
        |  FROM documents d LEFT JOIN perdoc p USING (doc_id))
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(nw) AS BIGINT) AS n_words,
        |  CAST(SUM(nt) AS BIGINT) AS n_tokens_bpe,
        |  CAST(SUM(nch) AS BIGINT) AS n_chars,
        |  CASE WHEN CAST(SUM(nw) AS BIGINT) > 0 THEN
        |    (CAST(SUM(nt) AS BIGINT) * 1000000) // CAST(SUM(nw) AS BIGINT)
        |    ELSE 0 END AS fertility_micro,
        |  CASE WHEN CAST(SUM(nt) AS BIGINT) > 0 THEN
        |    (CAST(SUM(nch) AS BIGINT) * 1000000) // CAST(SUM(nt) AS BIGINT)
        |    ELSE 0 END AS chars_per_token_micro
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin

  private def bpePackOracle: String =
    bpeOracleCtes(BpeMerges) + bpeOracleDocCtes +
      """,
        |lens AS (
        |  SELECT doc.source, doc.doc_id, coalesce(p.n_tokens_bpe, 0) AS n_tok
        |  FROM documents doc LEFT JOIN perdoc p USING (doc_id)),
        |offs AS (
        |  SELECT source, doc_id, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |                     ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
        |  FROM lens)
        |SELECT source, CAST(start_off // 2048 AS BIGINT) AS chunk,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM offs GROUP BY source, CAST(start_off // 2048 AS BIGINT)
        |ORDER BY source, chunk""".stripMargin

  /** DuckDB mirror of q173: same CTE-chain tokenization carried to full
    * token LISTS (the double-pipe encoding already holds each word's
    * ordered tokens — ids fall out of a dense rank over the distinct
    * token strings), same doc-local (word-pos, token-pos) ordering, same
    * per-source running offsets, same order-sensitive digest. */
  private[queries] def bpeIdsOracle: String =
    bpeOracleCtes(BpeMerges) +
      s""",
         |wtoks AS MATERIALIZED (
         |  SELECT translate(s, '|', '') AS w,
         |    string_split(substr(s, 2, len(s) - 2), '||') AS toks
         |  FROM v$BpeMerges),
         |ids AS (
         |  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) AS BIGINT) AS id
         |  FROM (SELECT DISTINCT unnest(toks) AS token FROM wtoks)),
         |dwords AS (
         |  SELECT d.source, d.doc_id, u.i AS wp, d.ws[u.i] AS w
         |  FROM (SELECT source, doc_id, $bpeOracleWords AS ws
         |        FROM documents WHERE text IS NOT NULL) d,
         |       unnest(generate_series(1, len(d.ws))) AS u(i)
         |  WHERE len(d.ws[u.i]) > 0),
         |dtoks AS (
         |  SELECT dw.source, dw.doc_id, dw.wp, v.j AS tp, wt.toks[v.j] AS token
         |  FROM dwords dw JOIN wtoks wt USING (w),
         |       unnest(generate_series(1, len(wt.toks))) AS v(j)),
         |sq AS (
         |  SELECT dt.source, dt.doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY dt.doc_id ORDER BY dt.wp, dt.tp) - 1
         |      AS tok_idx,
         |    i.id
         |  FROM dtoks dt JOIN ids i USING (token)),
         |dlen AS (
         |  SELECT source, doc_id, COUNT(*) AS n_tok FROM sq GROUP BY source, doc_id),
         |offs AS (
         |  SELECT doc_id,
         |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |                     ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
         |  FROM dlen),
         |pk AS (
         |  SELECT sq.source, (o.start_off + sq.tok_idx) // 2048 AS chunk,
         |    (o.start_off + sq.tok_idx) % 2048 AS pic, sq.id
         |  FROM sq JOIN offs o USING (doc_id))
         |SELECT source, CAST(chunk AS BIGINT) AS chunk,
         |  COUNT(*) AS n_tokens,
         |  CAST(SUM((pic + 1) * id) AS BIGINT) AS id_checksum,
         |  CAST(MIN(id) AS BIGINT) AS min_id, CAST(MAX(id) AS BIGINT) AS max_id
         |FROM pk GROUP BY source, chunk ORDER BY source, chunk""".stripMargin

  /** DuckDB mirror of q213: the generated chain's final vocab, the same
    * piece reassembly (array_to_string over the stored toks), the same
    * per-doc-then-per-source digest-of-digests. */
  private def detokRoundtripOracle: String =
    bpeOracleCtes(BpeMerges) +
      s""",
         |wtoks AS MATERIALIZED (
         |  SELECT translate(s, '|', '') AS w,
         |    string_split(substr(s, 2, len(s) - 2), '||') AS toks
         |  FROM v$BpeMerges),
         |dwords AS (
         |  SELECT d.source, d.doc_id, u.i AS wp, d.ws[u.i] AS w
         |  FROM (SELECT source, doc_id, $bpeOracleWords AS ws
         |        FROM documents WHERE text IS NOT NULL) d,
         |       unnest(generate_series(1, len(d.ws))) AS u(i)
         |  WHERE len(d.ws[u.i]) > 0),
         |j AS (
         |  SELECT dw.source, dw.doc_id, dw.wp, dw.w,
         |    array_to_string(wt.toks, '') AS rw
         |  FROM dwords dw JOIN wtoks wt USING (w)),
         |pd AS (
         |  SELECT source, doc_id, COUNT(*) AS nw,
         |    CAST(SUM(CASE WHEN rw = w THEN 1 ELSE 0 END) AS BIGINT) AS nl,
         |    md5(string_agg(rw, ' ' ORDER BY wp)) AS rmd5,
         |    md5(string_agg(w, ' ' ORDER BY wp)) AS smd5
         |  FROM j GROUP BY source, doc_id)
         |SELECT source,
         |  CAST(SUM(nw) AS BIGINT) AS n_words,
         |  CAST(SUM(nl) AS BIGINT) AS n_lossless,
         |  md5(string_agg(rmd5, ',' ORDER BY doc_id)) AS detok_md5,
         |  md5(string_agg(smd5, ',' ORDER BY doc_id)) AS source_md5,
         |  CAST(CASE WHEN md5(string_agg(rmd5, ',' ORDER BY doc_id))
         |         = md5(string_agg(smd5, ',' ORDER BY doc_id))
         |    THEN 1 ELSE 0 END AS INTEGER) AS is_match
         |FROM pd GROUP BY source ORDER BY source""".stripMargin

  /** DuckDB mirror of q205: the generated chain's token stream with the
    * same 1-based-wp prompt cut, the same (tok_idx+1)·id checksums. */
  private def sftMaskOracle: String =
    bpeOracleCtes(BpeMerges) +
      s""",
         |wtoks AS MATERIALIZED (
         |  SELECT translate(s, '|', '') AS w,
         |    string_split(substr(s, 2, len(s) - 2), '||') AS toks
         |  FROM v$BpeMerges),
         |ids AS (
         |  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) AS BIGINT) AS id
         |  FROM (SELECT DISTINCT unnest(toks) AS token FROM wtoks)),
         |dwords AS (
         |  SELECT d.doc_id, u.i AS wp, d.ws[u.i] AS w, len(d.ws) AS nw
         |  FROM (SELECT doc_id, $bpeOracleWords AS ws
         |        FROM documents WHERE text IS NOT NULL) d,
         |       unnest(generate_series(1, len(d.ws))) AS u(i)
         |  WHERE len(d.ws[u.i]) > 0),
         |dtoks AS (
         |  SELECT dw.doc_id, dw.wp, dw.nw, v.j AS tp, wt.toks[v.j] AS token
         |  FROM dwords dw JOIN wtoks wt USING (w),
         |       unnest(generate_series(1, len(wt.toks))) AS v(j)),
         |sq AS (
         |  SELECT dt.doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY dt.doc_id ORDER BY dt.wp, dt.tp) - 1
         |      AS tok_idx,
         |    CASE WHEN dt.wp <= (dt.nw + 2) // 3 THEN 1 ELSE 0 END AS is_prompt,
         |    i.id
         |  FROM dtoks dt JOIN ids i USING (token))
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(is_prompt) AS BIGINT) AS n_prompt_tokens,
         |  CAST(SUM(1 - is_prompt) AS BIGINT) AS n_trainable_tokens,
         |  CAST(SUM((tok_idx + 1) * id) AS BIGINT) AS input_checksum,
         |  CAST(SUM(CASE WHEN is_prompt = 0 THEN (tok_idx + 1) * id ELSE 0 END)
         |       AS BIGINT) AS label_checksum
         |FROM sq GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of q177: the generated chain trained on the
    * lang='en' slice, then a SECOND generated chain (u0..u24) applying
    * the same b_k rules to each distinct OOV word — replace() reuses
    * the scalar subqueries off the b_k tables, so the frozen model and
    * its application cannot drift. */
  private def bpeTransferOracle: String = {
    val oovRounds = (1 to BpeMerges).map { k =>
      s"""u$k AS MATERIALIZED (
         |  SELECT w, coalesce(replace(s,
         |      (SELECT '|' || l || '||' || r || '|' FROM b$k),
         |      (SELECT '|' || l || r || '|' FROM b$k)), s) AS s
         |  FROM u${k - 1})""".stripMargin
    }.mkString(",\n")
    bpeOracleCtes(BpeMerges, " AND lang = 'en'") +
      s""",
         |wtok AS MATERIALIZED (
         |  SELECT translate(s, '|', '') AS w,
         |    CAST((len(s) - len(replace(s, '|', ''))) / 2 AS BIGINT) AS n_tok
         |  FROM v$BpeMerges),
         |cw AS MATERIALIZED (
         |  SELECT doc_id, lang, w FROM (
         |    SELECT doc_id, lang, unnest($bpeOracleWords) AS w
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE len(w) > 0),
         |u0 AS MATERIALIZED (
         |  SELECT w, regexp_replace(w, '(.)', '|\\1|', 'g') AS s FROM (
         |    SELECT DISTINCT cw.w FROM cw
         |    LEFT JOIN wtok ON wtok.w = cw.w WHERE wtok.w IS NULL)),
         |$oovRounds,
         |oovtok AS (
         |  SELECT w, CAST((len(s) - len(replace(s, '|', ''))) / 2 AS BIGINT) AS n_tok
         |  FROM u$BpeMerges),
         |f AS (
         |  SELECT cw.lang,
         |    coalesce(wt.n_tok, ot.n_tok) AS n_tok,
         |    CASE WHEN wt.w IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM cw
         |  LEFT JOIN wtok wt ON wt.w = cw.w
         |  LEFT JOIN oovtok ot ON ot.w = cw.w)
         |SELECT lang, COUNT(*) AS n_words,
         |  CAST(SUM(oov) AS BIGINT) AS n_oov_words,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens_bpe,
         |  CASE WHEN COUNT(*) > 0 THEN
         |    (CAST(SUM(oov) AS BIGINT) * 1000000) // COUNT(*) ELSE 0 END
         |    AS oov_rate_micro,
         |  CASE WHEN COUNT(*) > 0 THEN
         |    (CAST(SUM(n_tok) AS BIGINT) * 1000000) // COUNT(*) ELSE 0 END
         |    AS fertility_micro
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** DuckDB mirror of q192: the generated chain's perdoc CTE + the same
    * per-source offset window and chunk-intersection arithmetic. */
  private def packBoundariesOracle: String =
    bpeOracleCtes(BpeMerges) + bpeOracleDocCtes +
      """,
        |off AS (
        |  SELECT d.source, p.doc_id, p.n_tokens_bpe AS nt,
        |    CAST(sum(p.n_tokens_bpe) OVER (PARTITION BY d.source ORDER BY p.doc_id
        |      ROWS UNBOUNDED PRECEDING) - p.n_tokens_bpe AS BIGINT) AS start_off
        |  FROM perdoc p JOIN documents d USING (doc_id)
        |  WHERE p.n_tokens_bpe > 0),
        |segs AS (
        |  SELECT source, doc_id, start_off, nt, CAST(c AS BIGINT) AS chunk,
        |    greatest(0, start_off - c * 2048) AS ls,
        |    least(2048, start_off + nt - c * 2048) AS le
        |  FROM off, unnest(generate_series(start_off // 2048,
        |    (start_off + nt - 1) // 2048)) AS u(c))
        |SELECT source, chunk, count(*) AS n_segments,
        |  CAST(sum(le - ls) AS BIGINT) AS n_tokens,
        |  CAST(max(le - ls) AS BIGINT) AS max_seg_len,
        |  CAST(sum((ls + 1) * doc_id) AS BIGINT) AS boundary_checksum
        |FROM segs GROUP BY source, chunk
        |ORDER BY source, chunk""".stripMargin

  /** DuckDB mirror of q196: the generated chain, a usage CTE (replace-
    * count over the final tokenizations × stored freq), and 24
    * CONDITIONAL re-apply rounds — each round's replace runs only when
    * its rank survived the usage threshold. */
  private def vocabPruneOracle: String = {
    val mlist = (1 to BpeMerges)
      .map(k => s"SELECT rank, l || r AS m FROM b$k")
      .mkString("\n  UNION ALL ")
    val prounds = (1 to BpeMerges).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT CASE WHEN (SELECT kept FROM keptm WHERE rank = $k) = 1
         |    THEN coalesce(replace(s,
         |        (SELECT '|' || l || '||' || r || '|' FROM b$k),
         |        (SELECT '|' || l || r || '|' FROM b$k)), s)
         |    ELSE s END AS s, freq
         |  FROM p${k - 1})""".stripMargin
    }.mkString(",\n")
    bpeOracleCtes(BpeMerges) +
      s""",
         |mlist AS (
         |  $mlist),
         |tot AS (
         |  SELECT CAST(SUM(freq * (len(s) - len(replace(s, '|', ''))) / 2) AS BIGINT)
         |    AS total
         |  FROM v$BpeMerges),
         |usage AS (
         |  SELECT ml.rank,
         |    CAST(SUM(v.freq * (len(v.s) - len(replace(v.s, '|' || ml.m || '|', '')))
         |         / (len(ml.m) + 2)) AS BIGINT) AS used
         |  FROM mlist ml, v$BpeMerges v
         |  GROUP BY ml.rank),
         |keptm AS (
         |  SELECT rank,
         |    CASE WHEN used * 100 >= (SELECT total FROM tot) THEN 1 ELSE 0 END AS kept
         |  FROM usage),
         |p0 AS (SELECT s, freq FROM v0),
         |$prounds,
         |wtok AS MATERIALIZED (
         |  SELECT translate(s, '|', '') AS w,
         |    CAST((len(s) - len(replace(s, '|', ''))) / 2 AS BIGINT) AS n_tok
         |  FROM v$BpeMerges),
         |ptok AS MATERIALIZED (
         |  SELECT translate(s, '|', '') AS w,
         |    CAST((len(s) - len(replace(s, '|', ''))) / 2 AS BIGINT) AS n_tok
         |  FROM p$BpeMerges),
         |cw AS (
         |  SELECT lang, w FROM (
         |    SELECT lang, unnest($bpeOracleWords) AS w
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE len(w) > 0)
         |SELECT cw.lang, COUNT(*) AS n_words,
         |  CAST(SUM(wt.n_tok) AS BIGINT) AS n_tokens_full,
         |  CAST(SUM(pt.n_tok) AS BIGINT) AS n_tokens_pruned,
         |  (SELECT CAST(SUM(kept) AS BIGINT) FROM keptm) AS n_merges_kept,
         |  CASE WHEN CAST(SUM(wt.n_tok) AS BIGINT) > 0 THEN
         |    (CAST(SUM(pt.n_tok) AS BIGINT) * 1000000)
         |      // CAST(SUM(wt.n_tok) AS BIGINT) ELSE 0 END AS cost_micro
         |FROM cw
         |JOIN wtok wt ON wt.w = cw.w
         |JOIN ptok pt ON pt.w = cw.w
         |GROUP BY cw.lang
         |ORDER BY cw.lang""".stripMargin
  }

  /** DuckDB mirror of q227: q156's full oracle as a subquery, the same
    * 4-chunk step grouping and per-source schedule accounting. */
  private def gradAccumOracle: String =
    s"""WITH pk AS (SELECT * FROM ($bpePackOracle)),
       |st AS (
       |  SELECT source, chunk // 4 AS step, COUNT(*) AS n_chunks,
       |    CAST(SUM(n_tokens) AS BIGINT) AS step_tokens
       |  FROM pk GROUP BY source, chunk // 4)
       |SELECT source, COUNT(*) AS n_steps,
       |  CAST(SUM(CASE WHEN n_chunks = 4 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_full_steps,
       |  CAST(SUM(CASE WHEN n_chunks <> 4 THEN n_chunks ELSE 0 END) AS BIGINT)
       |    AS tail_chunks,
       |  COALESCE(MIN(CASE WHEN n_chunks = 4 THEN step_tokens END), 0)
       |    AS full_tokens_min,
       |  COALESCE(MAX(CASE WHEN n_chunks = 4 THEN step_tokens END), 0)
       |    AS full_tokens_max,
       |  CAST(SUM(step_tokens) AS BIGINT) AS total_tokens
       |FROM st GROUP BY source
       |ORDER BY source""".stripMargin

  /** DuckDB mirror of q228: the generated chain's INTERMEDIATE rounds
    * (v16/v32/v64) — token counts read off the double-pipe encoding
    * (pipes/2), vocab as the distinct emitted tokens — so the stored
    * model's merge prefixes are pinned against an independently-derived
    * training history. */
  private def mergeAblationOracle: String = {
    val legs = Seq(16, 32, 64).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS n_merges,
         |  (SELECT CAST(SUM(freq) AS BIGINT) FROM v$k) AS n_words,
         |  (SELECT CAST(SUM(freq * (len(s) - len(replace(s, '|', ''))) // 2) AS BIGINT)
         |     FROM v$k) AS n_tokens,
         |  (SELECT CAST(SUM(freq * (len(s) - len(replace(s, '|', ''))) // 2) AS BIGINT)
         |     FROM v$k) * 1000000
         |    // (SELECT CAST(SUM(freq) AS BIGINT) FROM v$k) AS fertility_micro,
         |  (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) FROM (
         |     SELECT unnest(string_split(substr(s, 2, len(s) - 2), '||')) AS t
         |     FROM v$k)) AS vocab_size""".stripMargin
    }
    bpeOracleCtes(BpeMerges) + "\n" +
      legs.mkString("\nUNION ALL\n") + "\nORDER BY n_merges"
  }
}
