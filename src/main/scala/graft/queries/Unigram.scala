package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Unigram-LM (SentencePiece-style) tokenizer — BPE's sibling (q175
  * train / q176 apply; Kudo 2018, "Subword Regularization", public
  * method), hard-EM over the SAME derived multilingual corpus as the
  * BPE family (PipelineTokenizer.bpeCaseSql + NFC + unicode-word split):
  *
  *   - SEED: every substring of length 1..4 of every distinct word,
  *     corpus-weighted; the top-200 multi-char pieces by count plus ALL
  *     single characters form model M0 (single chars guarantee every
  *     word segments — the standard SentencePiece coverage invariant).
  *   - SCORES ride INTEGER MICROS (the q96/q155 ln-of-exact-integer
  *     rule): s(p) = round(ln(cnt+1)·1e6) − round(ln(T+|V|)·1e6), add-1
  *     smoothed log-probability — both engines take ln of the same
  *     exact integers, so the Viterbi objective is integer arithmetic
  *     and cross-engine exact.
  *   - E-STEP: per-word Viterbi segmentation maximizing Σ s(p), ties
  *     broken by fewer tokens, then by longer final piece — a fully
  *     deterministic integer argmax. Spark runs it as ONE higher-order
  *     fold per distinct word (the piece scores ride a broadcast map
  *     row, the 4-slot DP window is the fold state — no UDF, no
  *     per-word job); DuckDB unrolls the identical DP as a recursive
  *     CTE with the same 4-slot window and the same
  *     (−score, n, −j) sort-key tie-break.
  *   - M-STEP: piece counts from the segmentation (add-1 re-score).
  *   - PRUNE-AND-RETRAIN (round 16, r15 VERDICT #8 — SentencePiece's
  *     inventory prune between EM cycles): multi-char pieces whose E2
  *     usage fell below UniPruneMin are dropped (single chars always
  *     survive — coverage), the survivors re-scored (M2), the corpus
  *     re-Viterbi'd (E3). The SHIPPED model is M2/E3; the full chain
  *     is seed → E1 → M1 → E2 → prune → M2 → E3.
  *
  * Like the BPE model (VERDICT r14 #1, applied from day one here), the
  * trained artifact is WRITE-ONCE per (JVM, source dir): a piece table
  * (piece, cnt, score_micro) and a segmented-vocab table (w, freq,
  * n_tok, toks) bucketed on the word key. q175 reads the piece table;
  * q176 probes the vocab with one corpus join — no training in any
  * consumer plan.
  *
  * 100 TB shape: the corpus-sized steps are the word histogram (shared
  * with BPE) and the final corpus re-join; everything else is vocab- or
  * piece-sized. The piece model (≤ SeedTopN + alphabet, ~1M for a
  * production 32k-256k vocab) rides one broadcast map row — exactly how
  * a tokenizer service ships its model to workers. Viterbi is O(len·4)
  * integer ops per DISTINCT word, inside codegen.
  *
  * UnigramSpec pins the whole chain EXACTLY against an independent
  * in-memory implementation (plain Scala, no shared code); the driver
  * gate hash-compares both queries against the DuckDB recursive-CTE
  * oracle.
  */
object Unigram {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  private final val SeedTopN = 200

  // Inventory-prune floor (round 16): a multi-char piece must be used at
  // least this often in E2 to survive into the second EM cycle. final
  // val literal — interpolated into the generated oracle at object init.
  private final val UniPruneMin = 2

  // ---- Spark-side Viterbi: one fold per word, 4-slot DP window ----

  private val WinType = "struct<s: bigint, n: int, toks: string>"

  /** Candidate for a piece of length j ending at position i: previous
    * best at i−j extended by score(substr(w, i−j+1, j)). Sort-key fields
    * first (negs, n, negj — structs compare lexicographically in BOTH
    * engines), payload last. */
  private def candSql(j: Int): String = {
    val piece = s"substring(w, i - ${j - 1}, $j)"
    val prev = s"element_at(win, ${5 - j})"
    s"""CASE WHEN i >= $j AND $prev IS NOT NULL
       |          AND element_at(m, $piece) IS NOT NULL THEN
       |       named_struct(
       |         'negs', -($prev.s + element_at(m, $piece)),
       |         'n', $prev.n + 1,
       |         'negj', ${-j},
       |         'toks', concat($prev.toks, '|', $piece, '|'))
       |     END""".stripMargin
  }

  /** The DP fold: win holds best (score, ntok, toks) at positions
    * i−4..i−1; each step picks min (−score, n, −j) over the ≤4 feasible
    * extensions. Single-char pieces are always in the vocab (coverage
    * invariant), so the candidate list is never empty. */
  private def viterbiSql: String =
    s"""element_at(
       |  aggregate(
       |    sequence(1, length(w)),
       |    array(cast(null as $WinType), cast(null as $WinType),
       |          cast(null as $WinType),
       |          named_struct('s', cast(0 as bigint), 'n', 0, 'toks', '')),
       |    (win, i) -> array(
       |      element_at(win, 2), element_at(win, 3), element_at(win, 4),
       |      element_at(transform(array(element_at(array_sort(filter(array(
       |          ${candSql(1)},
       |          ${candSql(2)},
       |          ${candSql(3)},
       |          ${candSql(4)}), x -> x IS NOT NULL)), 1)),
       |        b -> named_struct('s', -b.negs, 'n', b.n, 'toks', b.toks)), 1))),
       |  4)""".stripMargin

  /** Segment every distinct word under the given piece scores. */
  private def uniViterbi(words: DataFrame, pieces: DataFrame): DataFrame = {
    val m = pieces
      .agg(map_from_entries(collect_list(struct(col("piece"), col("s")))).as("m"))
      .select(lit(1).as("k"), col("m"))
    words.withColumn("k", lit(1))
      .join(broadcast(m), Seq("k"))
      .withColumn("v", expr(viterbiSql))
      .select(col("w"), col("freq"),
        col("v.s").as("s"), col("v.n").as("n"), col("v.toks").as("toks"))
  }

  /** Add-1-smoothed integer-micro scores for a (piece, cnt) model:
    * round(ln(cnt+1)·1e6) − round(ln(ΣcntT + |V|)·1e6). */
  private def scored(counts: DataFrame): DataFrame = {
    val st = counts
      .agg((sum(col("cnt")) + count(lit(1))).cast(LongType).as("denom"))
      .select(lit(1).as("k"),
        round(log(col("denom")) * 1000000).cast(LongType).as("dmicro"))
    counts.withColumn("k", lit(1))
      .join(broadcast(st), Seq("k"))
      .select(col("piece"), col("cnt"),
        (round(log(col("cnt") + 1) * 1000000).cast(LongType) - col("dmicro"))
          .as("s"))
  }

  /** Explode a segmentation's double-pipe toks into corpus-weighted
    * piece counts. */
  private def pieceCounts(seg: DataFrame): DataFrame =
    seg.select(col("freq"),
        explode(split(expr("substring(toks, 2, length(toks) - 2)"), "\\|\\|"))
          .as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).cast(LongType).as("cnt"))

  // ---- the stored model (write-once per JVM+dir, the BPE pattern) ----

  private val uniModelDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The hard-EM training chain (seed → E1 → M1 → E2 → prune → M2 →
    * E3): returns (M2 scores (piece, cnt, s), E3 segmented vocab
    * (w, freq, n_tok, toks)). Exposed to ScaleStressSpec, which times
    * it fresh on the 1x and 10x corpora. */
  private[graft] def trainModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val hist = PipelineTokenizer.bpeWordHist(s, dir).localCheckpoint()
    // substring candidates, corpus-weighted (vocab-sized explode)
    val subs = hist
      .select(explode(expr(
        "flatten(transform(sequence(1, length(w)), st -> " +
          "transform(sequence(1, least(4, length(w) - st + 1)), " +
          "ln -> substring(w, st, ln))))")).as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).cast(LongType).as("cnt"))
      .localCheckpoint()
    val singles = subs.filter(length(col("piece")) === 1)
    val seedv = subs.filter(length(col("piece")) >= 2)
      .orderBy(desc("cnt"), col("piece")).limit(SeedTopN)
      .unionByName(singles)
    val seg1 = uniViterbi(hist, scored(seedv)).localCheckpoint()
    val c1 = pieceCounts(seg1)
    val v1 = c1.select(col("piece")).union(singles.select(col("piece")))
      .distinct()
      .join(c1, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val m1 = scored(v1).localCheckpoint()
    val seg2 = uniViterbi(hist, m1).localCheckpoint()
    // Second cycle (round 16): prune the inventory on E2 usage —
    // multi-char pieces below UniPruneMin drop out, singles always
    // survive — then re-score and re-Viterbi. All piece-sized work.
    val c2 = pieceCounts(seg2)
    val v2 = c2
      .filter(length(col("piece")) === 1 || col("cnt") >= UniPruneMin)
      .select(col("piece"))
      .union(singles.select(col("piece")))
      .distinct()
      .join(c2, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val m2 = scored(v2).localCheckpoint()
    val seg3 = uniViterbi(hist, m2)
      .select(col("w"), col("freq"), col("n").cast(LongType).as("n_tok"),
        col("toks"))
    (m2, seg3)
  }

  /** Returns the dir-qualified (piecesTable, vocabTable) names. */
  private[graft] def ensureUnigramModel(s: SparkSession, dir: String): (String, String) =
    synchronized {
      val dirKey = graft.BuildPaths.dirKey(dir)
      val pTbl = s"graft_uni_pieces_$dirKey"
      val vTbl = s"graft_uni_vocab_$dirKey"
      if (!(uniModelDirs.contains(dir) &&
            s.catalog.tableExists(pTbl) && s.catalog.tableExists(vTbl))) {
        val root = graft.BuildPaths.scratch(s"uni_model/$dirKey")
        val (m2, seg3) = trainModel(s, dir)
        seg3
          .write.mode("overwrite")
          .bucketBy(8, "w").sortBy("w")
          .option("path", s"$root/$vTbl")
          .format("parquet").saveAsTable(vTbl)
        // piece table off the WRITTEN vocab (E3 counts + the M2 scores
        // the shipped model actually segments with)
        val c3 = pieceCounts(
          s.table(vTbl).select(col("freq"), col("toks")))
        m2.select(col("piece"), col("s").as("score_micro"))
          .join(c3, Seq("piece"), "left")
          .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"),
            col("score_micro"))
          .write.mode("overwrite")
          .option("path", s"$root/$pTbl")
          .format("parquet").saveAsTable(pTbl)
        uniModelDirs.add(dir)
      }
      (pTbl, vTbl)
    }

  // ---- registry entries ----

  val defs: Seq[QueryDef] = Seq(

    // ---- q175: unigram-LM tokenizer TRAINING — the stored model's top
    // pieces by E2 usage. The heavy lifting (seed → E1 → M1 → E2) runs
    // once in ensureUnigramModel; this query reads the artifact, ranks
    // by corpus-weighted usage (cnt DESC, piece — binary string order
    // both engines) and reports the integer-micro scores. ----
    QueryDef("q175_unigram_train", uniTrainOracle) { (s, dir) =>
      val (pTbl, _) = ensureUnigramModel(s, dir)
      s.table(pTbl)
        .filter(col("cnt") >= 1)
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("cnt"), col("piece")))
            .cast(LongType))
        .filter(col("rank") <= 40)
        .select(col("rank"), col("piece"), col("cnt"), col("score_micro"))
        .orderBy(col("rank"))
    },

    // ---- q176: unigram tokenization — per-doc subword counts under
    // the stored model, the q151/q176 sibling pair a tokenizer-ablation
    // pipeline runs side by side (BPE vs unigram token budgets on the
    // SAME corpus). One corpus join against the bucketed vocab; no
    // training in the plan. ----
    QueryDef("q176_unigram_tokenize", uniTokenizeOracle) { (s, dir) =>
      val (_, vTbl) = ensureUnigramModel(s, dir)
      val vocab = s.table(vTbl).select(col("w"), col("n_tok"))
      val perDoc = PipelineTokenizer.bpeCorpusWords(s, dir)
        .join(vocab, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_tok")).cast(LongType).as("n_tokens_uni"))
      T(s, dir, "documents").select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_tokens_uni"), lit(0L)).as("n_tokens_uni"))
        .orderBy(col("doc_id"))
    },

    // ---- q178: tokenizer ABLATION — BPE vs unigram side by side on
    // the SAME corpus, the table a tokenizer selection actually reads
    // (fertility per language under each algorithm + their ratio; the
    // SentencePiece paper's comparison, reproduced distributed). Both
    // models are stored artifacts, so the query is two vocab probes +
    // one corpus join — the heavy chains ran once each at model-build
    // time. The ORACLE composes BOTH generated chains (the 24-round
    // BPE CTE unroll AND the recursive-CTE unigram EM) into one
    // query — the two oracle generators were built to compose. ----
    QueryDef("q178_tokenizer_ablation", ablationOracle) { (s, dir) =>
      val (_, bV) = PipelineTokenizer.ensureBpeModel(s, dir)
      val (_, uV) = ensureUnigramModel(s, dir)
      val words = T(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(PipelineTokenizer.bpeWordsCol).as("w"))
        .filter(length(col("w")) > 0)
      val bpe = s.table(bV).select(col("w"), size(col("toks")).as("nb"))
      val uni = s.table(uV).select(col("w"), col("n_tok").as("nu"))
      words.join(bpe, Seq("w")).join(uni, Seq("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("nb")).cast(LongType).as("n_tokens_bpe"),
          sum(col("nu")).cast(LongType).as("n_tokens_uni"))
        .select(col("lang"), col("n_words"), col("n_tokens_bpe"),
          col("n_tokens_uni"),
          // Divisors are >= 1 per group by construction (inner joins,
          // >= 1 token/word); guarded anyway so both engines agree on
          // degenerate corpora (r15 ADVICE zero-guard rule).
          when(col("n_words") > 0,
            expr("(n_tokens_bpe * 1000000) DIV n_words")).otherwise(lit(0L))
            .as("bpe_fertility_micro"),
          when(col("n_words") > 0,
            expr("(n_tokens_uni * 1000000) DIV n_words")).otherwise(lit(0L))
            .as("uni_fertility_micro"),
          when(col("n_tokens_bpe") > 0,
            expr("(n_tokens_uni * 1000000) DIV n_tokens_bpe")).otherwise(lit(0L))
            .as("uni_vs_bpe_micro"))
        .orderBy(col("lang"))
    }
  )

  // ---- DuckDB oracle: the identical chain, Viterbi as a recursive CTE ----

  /** One Viterbi pass as a recursive CTE: the same 4-slot window, the
    * same (−score, n, −j) struct sort-key tie-break (struct comparison
    * is lexicographic in both engines), the same double-pipe toks. */
  private def dpCte(name: String, hist: String, pieces: String): String =
    s"""${name}_dp AS (
       |  SELECT w, freq, len(w) AS wl, 0 AS i,
       |    [CAST(NULL AS STRUCT(s BIGINT, n INT, toks VARCHAR)),
       |     CAST(NULL AS STRUCT(s BIGINT, n INT, toks VARCHAR)),
       |     CAST(NULL AS STRUCT(s BIGINT, n INT, toks VARCHAR)),
       |     {'s': CAST(0 AS BIGINT), 'n': 0, 'toks': ''}] AS win
       |  FROM $hist
       |  UNION ALL
       |  SELECT w, freq, wl, i + 1,
       |    [win[2], win[3], win[4],
       |     (SELECT {'s': -u.c.negs, 'n': u.c.n, 'toks': u.c.toks} FROM
       |        unnest(list_sort(list_filter([
       |          CASE WHEN p1.piece IS NOT NULL AND win[4] IS NOT NULL THEN
       |            {'negs': -(win[4].s + p1.s), 'n': win[4].n + 1, 'negj': -1,
       |             'toks': win[4].toks || '|' || p1.piece || '|'} END,
       |          CASE WHEN p2.piece IS NOT NULL AND win[3] IS NOT NULL THEN
       |            {'negs': -(win[3].s + p2.s), 'n': win[3].n + 1, 'negj': -2,
       |             'toks': win[3].toks || '|' || p2.piece || '|'} END,
       |          CASE WHEN p3.piece IS NOT NULL AND win[2] IS NOT NULL THEN
       |            {'negs': -(win[2].s + p3.s), 'n': win[2].n + 1, 'negj': -3,
       |             'toks': win[2].toks || '|' || p3.piece || '|'} END,
       |          CASE WHEN p4.piece IS NOT NULL AND win[1] IS NOT NULL THEN
       |            {'negs': -(win[1].s + p4.s), 'n': win[1].n + 1, 'negj': -4,
       |             'toks': win[1].toks || '|' || p4.piece || '|'} END],
       |          x -> x IS NOT NULL))) AS u(c)
       |        LIMIT 1)] AS win
       |  FROM ${name}_dp
       |  LEFT JOIN $pieces p1 ON p1.piece = substr(w, i + 1, 1)
       |  LEFT JOIN $pieces p2 ON i >= 1 AND p2.piece = substr(w, i, 2)
       |  LEFT JOIN $pieces p3 ON i >= 2 AND p3.piece = substr(w, i - 1, 3)
       |  LEFT JOIN $pieces p4 ON i >= 3 AND p4.piece = substr(w, i - 2, 4)
       |  WHERE i < wl),
       |$name AS MATERIALIZED (
       |  SELECT w, freq, win[4].s AS s, win[4].n AS n, win[4].toks AS toks
       |  FROM ${name}_dp WHERE i = wl)""".stripMargin

  /** Shared chain: histogram → seed → E1 → M1 → E2 → c2. */
  private def uniOracleCtes: String =
    "WITH RECURSIVE\n" + uniOracleCtesBody

  /** The chain without the WITH RECURSIVE prefix, for composition into
    * combined oracles (q178 runs both tokenizer chains in ONE query). */
  private[graft] def uniOracleCtesBody: String =
    s"""hist AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(${PipelineTokenizer.bpeOracleWords}) AS w
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE len(w) > 0 GROUP BY w),
       |sub AS (
       |  SELECT substr(w, st.i, ln.j) AS piece, freq
       |  FROM hist,
       |       unnest(generate_series(1, len(w))) AS st(i),
       |       unnest(generate_series(1, least(4, len(w) - st.i + 1))) AS ln(j)),
       |pcnt AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM sub GROUP BY piece),
       |seedv AS (
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM pcnt WHERE len(piece) >= 2
       |    ORDER BY cnt DESC, piece LIMIT $SeedTopN)
       |  UNION ALL
       |  SELECT piece, cnt FROM pcnt WHERE len(piece) = 1),
       |st0 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, COUNT(*) AS v FROM seedv),
       |seed AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(round(ln(cnt + 1) * 1000000, 0) AS BIGINT)
       |      - (SELECT CAST(round(ln(t + v) * 1000000, 0) AS BIGINT) FROM st0) AS s
       |  FROM seedv),
       |${dpCte("seg1", "hist", "seed")},
       |c1 AS (
       |  SELECT t.p AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, unnest(string_split(substr(toks, 2, len(toks) - 2), '||')) AS p
       |        FROM seg1) t
       |  GROUP BY t.p),
       |pv1 AS (
       |  SELECT u.piece, coalesce(c1.cnt, 0) AS cnt
       |  FROM (SELECT piece FROM c1 UNION
       |        SELECT piece FROM pcnt WHERE len(piece) = 1) u
       |  LEFT JOIN c1 ON c1.piece = u.piece),
       |st1 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, COUNT(*) AS v FROM pv1),
       |m1 AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(round(ln(cnt + 1) * 1000000, 0) AS BIGINT)
       |      - (SELECT CAST(round(ln(t + v) * 1000000, 0) AS BIGINT) FROM st1) AS s
       |  FROM pv1),
       |${dpCte("seg2", "hist", "m1")},
       |c2 AS (
       |  SELECT t.p AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, unnest(string_split(substr(toks, 2, len(toks) - 2), '||')) AS p
       |        FROM seg2) t
       |  GROUP BY t.p),
       |pv2 AS (
       |  SELECT u.piece, coalesce(c2.cnt, 0) AS cnt
       |  FROM (SELECT piece FROM c2 WHERE len(piece) = 1 OR cnt >= $UniPruneMin
       |        UNION
       |        SELECT piece FROM pcnt WHERE len(piece) = 1) u
       |  LEFT JOIN c2 ON c2.piece = u.piece),
       |st2 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, COUNT(*) AS v FROM pv2),
       |m2 AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(round(ln(cnt + 1) * 1000000, 0) AS BIGINT)
       |      - (SELECT CAST(round(ln(t + v) * 1000000, 0) AS BIGINT) FROM st2) AS s
       |  FROM pv2),
       |${dpCte("seg3", "hist", "m2")},
       |c3 AS (
       |  SELECT t.p AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, unnest(string_split(substr(toks, 2, len(toks) - 2), '||')) AS p
       |        FROM seg3) t
       |  GROUP BY t.p)""".stripMargin

  /** DuckDB mirror of q178: BOTH tokenizer chains composed in one
    * query — the BPE 24-round unroll (v0..v24 + wtok + perdoc) and the
    * recursive unigram EM (hist..seg2), disjoint CTE namespaces by
    * construction; the final frame joins the two per-doc counts. */
  private def ablationOracle: String =
    "WITH RECURSIVE\n" +
      PipelineTokenizer.bpeOracleCtesBody(PipelineTokenizer.BpeMerges) +
      PipelineTokenizer.bpeOracleDocCtes + ",\n" +
      uniOracleCtesBody +
      s""",
         |perdoc_uni AS (
         |  SELECT d.doc_id, CAST(SUM(sg.n) AS BIGINT) AS n_tokens_uni
         |  FROM (SELECT doc_id, unnest(${PipelineTokenizer.bpeOracleWords}) AS w
         |        FROM documents WHERE text IS NOT NULL) d
         |  JOIN seg3 sg ON sg.w = d.w
         |  WHERE len(d.w) > 0
         |  GROUP BY d.doc_id),
         |f AS (
         |  SELECT doc.lang, coalesce(pb.n_words, 0) AS nw,
         |    coalesce(pb.n_tokens_bpe, 0) AS nb,
         |    coalesce(pu.n_tokens_uni, 0) AS nu
         |  FROM documents doc
         |  LEFT JOIN perdoc pb USING (doc_id)
         |  LEFT JOIN perdoc_uni pu USING (doc_id))
         |SELECT lang, CAST(SUM(nw) AS BIGINT) AS n_words,
         |  CAST(SUM(nb) AS BIGINT) AS n_tokens_bpe,
         |  CAST(SUM(nu) AS BIGINT) AS n_tokens_uni,
         |  CASE WHEN CAST(SUM(nw) AS BIGINT) > 0 THEN
         |    (CAST(SUM(nb) AS BIGINT) * 1000000) // CAST(SUM(nw) AS BIGINT)
         |    ELSE 0 END AS bpe_fertility_micro,
         |  CASE WHEN CAST(SUM(nw) AS BIGINT) > 0 THEN
         |    (CAST(SUM(nu) AS BIGINT) * 1000000) // CAST(SUM(nw) AS BIGINT)
         |    ELSE 0 END AS uni_fertility_micro,
         |  CASE WHEN CAST(SUM(nb) AS BIGINT) > 0 THEN
         |    (CAST(SUM(nu) AS BIGINT) * 1000000) // CAST(SUM(nb) AS BIGINT)
         |    ELSE 0 END AS uni_vs_bpe_micro
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin

  private def uniTrainOracle: String =
    uniOracleCtes +
      """
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY c3.cnt DESC, c3.piece) AS BIGINT)
        |    AS rank,
        |  c3.piece AS piece, c3.cnt AS cnt, CAST(m2.s AS BIGINT) AS score_micro
        |FROM c3 JOIN m2 ON m2.piece = c3.piece
        |ORDER BY c3.cnt DESC, c3.piece LIMIT 40""".stripMargin

  private def uniTokenizeOracle: String =
    uniOracleCtes +
      s""",
         |perdoc AS (
         |  SELECT d.doc_id, COUNT(*) AS n_words, CAST(SUM(sg.n) AS BIGINT) AS n_tokens_uni
         |  FROM (SELECT doc_id, unnest(${PipelineTokenizer.bpeOracleWords}) AS w
         |        FROM documents WHERE text IS NOT NULL) d
         |  JOIN seg3 sg ON sg.w = d.w
         |  WHERE len(d.w) > 0
         |  GROUP BY d.doc_id)
         |SELECT doc.doc_id, coalesce(p.n_words, 0) AS n_words,
         |  coalesce(p.n_tokens_uni, 0) AS n_tokens_uni
         |FROM documents doc LEFT JOIN perdoc p USING (doc_id)
         |ORDER BY doc.doc_id""".stripMargin
}
