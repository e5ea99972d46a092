package graft.queries

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Exactness gate for the BPE family (q150 train / q151 apply), oracle-
  * paired in the driver gate since r14 via the generated chained-CTE
  * oracle. The pin here is EXACT and INDEPENDENT of both engines: an
  * in-memory BPE implementation (written from the algorithm, sharing no
  * code with the distributed one — plain Scala maps and lists, no Spark)
  * must produce the identical merge table and identical per-document
  * token counts on the same fixture, including the r15 multilingual
  * derived corpus (CJK transliteration with a 4-byte supplementary char,
  * NFD combining marks and decomposed Hangul jamo that NFC composes,
  * unicode-property word splitting).
  */
class BpeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  // ---- independent reference implementation (no Spark, no shared code) ----

  /** The multilingual derived corpus, re-derived with plain JDK string
    * ops (codePoints stream for the transliteration — the 4-byte 'q'
    * mapping must stay one symbol; java.text.Normalizer for NFC). */
  private val refCjk: Array[String] = {
    val cps = (0 to 15).map(i => 0x4e00 + i) ++ Seq(0x20bb7) ++ (0 to 8).map(i => 0x4e10 + i)
    cps.map(cp => new String(Character.toChars(cp))).toArray
  }

  private def refTranslit(lang: String, text: String): String = {
    val t = text.toLowerCase(java.util.Locale.ROOT)
    def tr(src: String, dst: Seq[String]): String = {
      val sb = new StringBuilder
      t.foreach { c =>
        val i = src.indexOf(c)
        sb.append(if (i >= 0) dst(i) else c.toString)
      }
      sb.toString
    }
    lang match {
      case "zh" => tr("abcdefghijklmnopqrstuvwxyz", refCjk.toSeq)
      case "de" => t.replace("a", "a\u0308").replace("o", "o\u0308")
        .replace("u", "\u1100\u1161")
      case "es" => tr("aeioun", "áéíóúñ".map(_.toString))
      case "fr" => tr("aec", "àéç".map(_.toString))
      case _ => t
    }
  }

  private def refWords(lang: String, text: String): Seq[String] =
    java.text.Normalizer.normalize(refTranslit(lang, text),
        java.text.Normalizer.Form.NFC)
      .split("[^\\p{L}\\p{N}]+").toSeq.filter(_.nonEmpty)

  /** One left-to-right merge pass of rule (l, r) over a symbol list. */
  private def refMergePass(syms: List[String], l: String, r: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  /** Codepoint-wise symbol split — String.split("") splits SURROGATE
    * PAIRS (verified on this JDK), which would give the 4-byte CJK
    * symbol two broken half-symbols and two phantom tokens. */
  private def refSyms(w: String): List[String] =
    w.codePoints().toArray.toList.map(cp => new String(Character.toChars(cp)))

  /** Classic histogram BPE: returns (merge table, final word->tokens). */
  private def refTrain(hist: Map[String, Long], nMerges: Int)
    : (Seq[(Int, String, String, Long)], Map[String, List[String]]) = {
    var words: Map[List[String], Long] =
      hist.groupMapReduce { case (w, _) => refSyms(w) } (_._2)(_ + _)
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    for (rank <- 1 to nMerges) {
      val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, freq) <- words; Seq(a, b) <- syms.sliding(2) if syms.length >= 2)
        pairCnt((a, b)) = pairCnt.getOrElse((a, b), 0L) + freq
      if (pairCnt.nonEmpty) {
        // argmax, ties broken lexicographically — must match the query's
        // ORDER BY cnt DESC, l, r LIMIT 1
        val ((l, r), cnt) = pairCnt.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((rank, l, r, cnt))
        words = words.groupMapReduce { case (syms, _) => refMergePass(syms, l, r) } (_._2)(_ + _)
      }
    }
    val tokensByWord = hist.keys.map { w =>
      var syms = refSyms(w)
      merges.foreach { case (_, l, r, _) => syms = refMergePass(syms, l, r) }
      w -> syms
    }.toMap
    (merges.toList, tokensByWord)
  }

  private lazy val corpus: Seq[(Long, String, String)] = {
    // read the fixture via Spark but materialize to plain Scala — the
    // reference computation itself never touches a DataFrame
    graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).getOrElse("")))
      .toSeq
  }

  private lazy val refHist: Map[String, Long] =
    corpus.flatMap { case (_, lang, t) => refWords(lang, t) }
      .groupMapReduce(identity)(_ => 1L)(_ + _)

  private lazy val ref = refTrain(refHist, PipelineTokenizer.BpeMerges)

  test("q150: distributed merge table EXACTLY equals the independent reference (all ranks)") {
    val got = Registry.byName("q150_bpe_train").build(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    val want = ref._1.map { case (rank, l, r, cnt) => (rank, l, r, l + r, cnt) }
    assert(got.size === PipelineTokenizer.BpeMerges, s"expected ${PipelineTokenizer.BpeMerges} merge rules, got ${got.size}")
    assert(got === want)
  }

  test("q151: per-document counts match the reference tokenizer exactly, and budget invariants hold") {
    val got = Registry.byName("q151_bpe_tokenize").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val tokensByWord = ref._2
    corpus.foreach { case (docId, lang, text) =>
      val ws = refWords(lang, text)
      val want = (ws.size.toLong, ws.map(w => tokensByWord(w).size.toLong).sum)
      assert(got(docId) === want, s"doc $docId: got ${got(docId)}, want $want")
      // budget invariants: >= 1 token per word, <= 1 token per CODEPOINT
      // (UTF-16 length would over-count the 4-byte CJK symbol)
      val (nw, nt) = got(docId)
      assert(nt >= nw, s"doc $docId: fewer tokens than words")
      assert(nt <= ws.map(w => w.codePointCount(0, w.length).toLong).sum,
        s"doc $docId: more tokens than codepoints")
    }
    assert(got.size === corpus.size, "every document must appear exactly once")
  }

  test("oracle equivalence: literal replace() on the double-pipe encoding IS the greedy merge pass") {
    // The generated DuckDB oracle applies one merge rule as
    // replace(s, '|l||r|', '|lr|') over each word's "|a||b||c|"
    // encoding. SQL replace (and Java's String.replace, used here as
    // its semantic twin) scans the ORIGINAL string left to right,
    // non-overlapping — this pins that that equals the reference
    // greedy pass for every small symbol sequence and compounded rule,
    // including the cascade shapes ("aaaa" under (a,a); products
    // feeding later higher-rank rules).
    def encode(syms: List[String]): String = syms.map(s => s"|$s|").mkString
    def decode(enc: String): List[String] =
      if (enc.isEmpty) Nil
      else enc.substring(1, enc.length - 1).split("\\|\\|", -1).toList
    def viaReplace(syms: List[String], l: String, r: String): List[String] =
      decode(encode(syms).replace(s"|$l||$r|", s"|$l$r|"))
    val alphabet = List("a", "b", "ab")
    val seqs: Seq[List[String]] = (0 to 5).flatMap { n =>
      Seq.fill(n)(alphabet).foldLeft(Seq(List.empty[String])) {
        (acc, cs) => acc.flatMap(p => cs.map(c => p :+ c))
      }
    }
    val rules = for {
      l <- alphabet ++ List("aa", "ba", "abb", "aba")
      r <- alphabet
    } yield (l, r)
    var checked = 0
    for (s0 <- seqs; (l1, r1) <- rules) {
      val folded = refMergePass(s0, l1, r1)
      assert(viaReplace(s0, l1, r1) === folded, s"seq=$s0 rule=($l1,$r1)")
      // compound: the merged product becomes the left side of a
      // higher-rank rule, applied on the first pass's output
      val (l2, r2) = (l1 + r1, r1)
      assert(viaReplace(folded, l2, r2) === refMergePass(folded, l2, r2),
        s"seq=$folded rule2=($l2,$r2)")
      checked += 2
    }
    assert(checked > 10000, s"only $checked cases checked")
  }

  test("q177: frozen en-model transfer matches the independent reference (OOV fallback included)") {
    // Train the reference on the ENGLISH slice only, then apply the
    // frozen merges to EVERY corpus word — known or not, the same fold
    // produces the token count (BPE's graceful OOV degradation). The
    // distributed version must agree per language on word/OOV/token
    // sums and the derived integer-micro rates.
    val enHist: Map[String, Long] =
      corpus.filter(_._2 == "en")
        .flatMap { case (_, lang, t) => refWords(lang, t) }
        .groupMapReduce(identity)(_ => 1L)(_ + _)
    val (merges, _) = refTrain(enHist, PipelineTokenizer.BpeMerges)
    def tok(w: String): Int = {
      var syms = refSyms(w)
      merges.foreach { case (_, l, r, _) => syms = refMergePass(syms, l, r) }
      syms.size
    }
    val agg = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    corpus.foreach { case (_, lang, text) =>
      refWords(lang, text).foreach { w =>
        val (nw, no, nt) = agg.getOrElse(lang, (0L, 0L, 0L))
        agg(lang) = (nw + 1, no + (if (enHist.contains(w)) 0 else 1), nt + tok(w))
      }
    }
    val got = Registry.byName("q177_bpe_transfer").build(spark, sfDir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    agg.foreach { case (lang, (nw, no, nt)) =>
      val want = (nw, no, nt, no * 1000000 / nw, nt * 1000000 / nw)
      assert(got(lang) === want, s"lang $lang: got ${got(lang)}, want $want")
    }
    assert(got.keySet === agg.keySet)
  }

  test("q150 is deterministic across runs (argmax ties pinned)") {
    val a = Registry.byName("q150_bpe_train").build(spark, sfDir)
      .collect().map(_.toString).toSeq
    val b = Registry.byName("q150_bpe_train").build(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(a === b)
  }

  // ---- r16: the unicode word-feature rule (wordFeatCol) shared by the
  // hashed-feature family q155/q157/q158/q161 — the r15 VERDICT #1 fix.
  // Under the old [^a-z0-9]+ split, every document below tokenized to
  // zero features (domain selection / classification were vacuous for
  // non-Latin scripts); the \p{L}\p{N} rule must carry real features.

  test("wordFeatCol: non-Latin documents carry features, NFC-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val nfdCafe = "café bar"          // 'e' + combining acute
    val nfcCafe = "café bar"                // precomposed
    val rows = Seq(
      (1L, "中文文本 处理"),          // Chinese
      (2L, "русский текст"), // Russian
      (3L, "ελληνικά"),  // Greek
      (4L, "한국어 문서"),                 // Hangul
      (5L, nfdCafe),
      (6L, nfcCafe))
      .toDF("doc_id", "text")
    val feats = rows
      .select(col("doc_id"), explode(Pipeline.wordFeatCol).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), collect_list(col("w")).as("ws"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[String](2).toSet))
      .toMap
    // Every script yields at least one feature (the r15 defect yielded 0).
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      assert(feats(id)._1 >= 1, s"doc $id carries no features")
    }
    // NFC canonicalization: decomposed and precomposed text produce the
    // SAME feature set, so hashed buckets agree across input encodings.
    assert(feats(5L)._2 === feats(6L)._2)
    assert(feats(5L)._2.contains("café"))
  }
}
