package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Property pins for the round-15 curation/objective operators, beyond
  * the DuckDB gate: an INDEPENDENT in-memory reimplementation for the
  * substring dedup (the BpeSpec convention — two agreeing engines can
  * still share a bug; a third, structurally different implementation
  * cannot), the span-corruption reconstruction invariant (input +
  * target must rebuild the original document), and the semantic
  * guarantees (k-anonymity's k, redaction completeness, conservation)
  * that row/hash equality alone does not state.
  */
class CurationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def docs(): Seq[(Long, String)] =
    graft.Tables.load(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  private def docsWithSource(): Seq[(Long, String, String)] =
    graft.Tables.load(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  // ---- shared plain-JDK hash helpers (no Spark, no repo kernels) ----

  private def md5Hex(sv: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h60(sv: String): Long =
    java.lang.Long.parseLong(md5Hex(sv).substring(0, 15), 16)

  // ---- q180: independent in-memory substring dedup ----

  test("q180: Spark output equals an independent in-memory implementation") {
    val K = 8
    val corpus = docs().map { case (id, t) => (id, t.toLowerCase.split(" ", -1).toVector) }
    // gram -> all occurrences (docId, pos 1-based), insertion-ordered
    val occ = scala.collection.mutable.LinkedHashMap.empty[String, Vector[(Long, Int)]]
    for ((id, ws) <- corpus; p <- 1 to ws.length - K + 1) {
      val g = ws.slice(p - 1, p - 1 + K).mkString(" ")
      occ(g) = occ.getOrElse(g, Vector.empty) :+ (id, p)
    }
    val cut = scala.collection.mutable.Set.empty[(Long, Int)]
    for ((_, os) <- occ if os.length >= 2) {
      val keep = os.min // lexicographic (docId, pos) — the canonical pick
      for (o <- os if o != keep; off <- 0 until K) cut += ((o._1, o._2 + off))
    }
    val expected = corpus.map { case (id, ws) =>
      val keptWords = (1 to ws.length).filter(p => !cut((id, p))).map(p => ws(p - 1))
      (id, ws.length.toLong, keptWords.length.toLong,
        ws.length.toLong - keptWords.length,
        java.security.MessageDigest.getInstance("MD5")
          .digest(keptWords.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
    }.sortBy(_._1)
    val got = Registry.byName("q180_substring_dedup").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq
    assert(got.size === expected.size)
    got.zip(expected).foreach { case (g, e) => assert(g === e, s"doc ${e._1}") }
    // and the operator actually bites on this corpus
    assert(expected.map(_._4).sum > 0, "no spans were excised — vacuous fixture")
  }

  // ---- q184: reconstruction invariant ----

  test("q184: substituting each target span back into the input rebuilds the original document") {
    val K = 8 // unused; kept for symmetry with q180's width
    assert(K == 8)
    val rows = Registry.byName("q184_span_corruption").build(spark, sfDir).collect()
    // Rebuild input/target streams independently (same public rule) and
    // check (a) digests match the operator and (b) substitution restores
    // the original text — the invariant that makes the pair trainable.
    def h60(sv: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15), 16)
    def md5(sv: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val byId = docs().toMap
    var checkedSpans = 0L
    rows.foreach { r =>
      val id = r.getLong(0)
      val ws = byId(id).toLowerCase.split(" ", -1).toVector
      val masked = ws.indices.map { i =>
        val pos = i + 1
        val block = (pos - 1) / 20
        val off = h60(s"sc:$id:$block") % 18
        ((pos - 1) % 20) >= off && ((pos - 1) % 20) <= off + 2
      }
      // spans: consecutive masked positions within a block
      val spanBlocks = ws.indices.filter(masked).map(i => i / 20).distinct.sorted
      val spanK = spanBlocks.zipWithIndex.toMap // block -> 0-based
      val input = ws.indices.flatMap { i =>
        if (!masked(i)) Seq(ws(i))
        else {
          val b = i / 20
          val firstInBlock = ws.indices.filter(j => masked(j) && j / 20 == b).min
          if (i == firstInBlock) Seq(s"<extra_id_${spanK(b) + 1}>") else Nil
        }
      }.mkString(" ")
      val target = spanBlocks.flatMap { b =>
        s"<extra_id_${spanK(b) + 1}>" +:
          ws.indices.filter(j => masked(j) && j / 20 == b).map(ws(_))
      }.mkString(" ")
      assert(md5(input) === r.getString(4), s"doc $id input digest")
      assert(md5(target) === r.getString(5), s"doc $id target digest")
      // substitution restores the original
      var rebuilt = input
      spanBlocks.foreach { b =>
        val toks = ws.indices.filter(j => masked(j) && j / 20 == b).map(ws(_)).mkString(" ")
        rebuilt = rebuilt.replace(s"<extra_id_${spanK(b) + 1}>", toks)
      }
      assert(rebuilt === ws.mkString(" "), s"doc $id does not reconstruct")
      checkedSpans += spanBlocks.size
    }
    assert(checkedSpans > 0, "no spans masked anywhere — vacuous corpus")
  }

  // ---- q181/q190: redaction completeness + idempotence ----

  test("q181: redacted text contains no residual PII match; redaction is idempotent") {
    val pii = Curation.piiInjectedText
    val redacted = Curation.redactPii(pii)
    val twice = Curation.redactPii(Curation.redactPii(pii))
    val bad = graft.Tables.load(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(
        (regexp_count(redacted, lit(Curation.EmailPat)) +
          regexp_count(redacted, lit(Curation.SsnPat)) +
          regexp_count(redacted, lit(Curation.PhonePat))).as("residual"),
        (md5(redacted) === md5(twice)).as("idem"))
      .agg(sum(col("residual")).as("residual"),
        sum(when(col("idem"), 0).otherwise(1)).as("not_idem"))
      .collect()(0)
    assert(bad.getLong(0) === 0L, "residual PII after redaction")
    assert(bad.getLong(1) === 0L, "redaction not idempotent")
  }

  // ---- q188: the k guarantee and level minimality ----

  test("q188: every published group has >= k members, and the next-finer level would violate k") {
    val out = Registry.byName("q188_kanon_generalize").build(spark, sfDir).collect()
    assert(out.nonEmpty)
    val lvl = out.head.getInt(0)
    assert(out.forall(_.getLong(4) >= 5L), "published group under k")
    if (lvl > 0) {
      // recompute the next-finer level's min group size directly
      val d = graft.Tables.load(spark, sfDir, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), col("source"), expr("n_chars DIV 100").as("b"))
      val finer = lvl match {
        case 1 => d.groupBy(col("lang"), col("source"), col("b")).count()
        case 2 => d.groupBy(col("lang"), col("source")).count()
        case _ => d.groupBy(col("lang")).count()
      }
      val minFiner = finer.agg(min(col("count"))).collect()(0).getLong(0)
      assert(minFiner < 5L,
        s"level $lvl chosen but finer level min=$minFiner clears k — walk not minimal")
    }
  }

  // ---- q183/q185/q186: conservation and arithmetic guarantees ----

  test("q183: batches partition the vector set; collisions never exceed pairs") {
    val out = Registry.byName("q183_contrastive_batches").build(spark, sfDir).collect()
    val n = graft.Tables.load(spark, sfDir, "embeddings").count()
    assert(out.map(_.getLong(1)).sum === n, "vectors lost or duplicated across batches")
    assert(out.forall(r => r.getLong(3) <= r.getLong(2)), "collisions > pairs")
  }

  test("q185: both strategies batch every doc; waste is non-negative everywhere") {
    val out = Registry.byName("q185_length_batching").build(spark, sfDir).collect()
    val total = graft.Tables.load(spark, sfDir, "documents")
      .filter(col("text").isNotNull).count()
    val globalRow = out.filter(_.getLong(0) == -1L)
    assert(globalRow.length === 1)
    assert(globalRow.head.getLong(1) === total)
    assert(out.filter(_.getLong(0) >= 0L).map(_.getLong(1)).sum === total)
    assert(out.forall(_.getLong(4) >= 0L), "negative padding waste")
  }

  test("q192/q173 coherence: boundary segments cover exactly the packed tokens of every chunk") {
    // The attention-boundary table and the packed-id table are two views
    // of ONE packing; their per-(source, chunk) token totals must agree
    // or a trainer would mask a different stream than it loads.
    val b = Registry.byName("q192_pack_boundaries").build(spark, sfDir)
      .select(col("source"), col("chunk"), col("n_tokens").as("bt"))
    val p = Registry.byName("q173_bpe_ids").build(spark, sfDir)
      .select(col("source"), col("chunk"), col("n_tokens").as("pt"))
    val diff = b.join(p, Seq("source", "chunk"), "full_outer")
      .filter(col("bt").isNull || col("pt").isNull || col("bt") =!= col("pt"))
      .count()
    assert(diff === 0L, "boundary table and packed-id table disagree on chunk contents")
  }

  test("q186: effective tokens never exceed 4 epochs of the source; cap flag is consistent") {
    val out = Registry.byName("q186_repeat_epochs").build(spark, sfDir).collect()
    out.foreach { r =>
      val (tokens, epochs, effective, capped) =
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getInt(5))
      assert(epochs <= 4000000L)
      assert(effective <= 4L * tokens)
      assert((capped == 1) === (epochs == 4000000L), "cap flag inconsistent")
    }
  }

  test("q204: multiplicities are floor(epochs) or +1, sampled totals bounded by the plan") {
    val plan = Registry.byName("q186_repeat_epochs").build(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    val out = Registry.byName("q204_epoch_sample").build(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (src, epochs, nDocs, nSampled) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val base = epochs / 1000000L
      assert(epochs === plan(src)._1, s"$src: sampler used a different plan")
      // every doc contributes base or base+1 copies
      assert(nSampled >= base * nDocs && nSampled <= (base + 1) * nDocs,
        s"$src: sampled docs $nSampled outside [$base, ${base + 1}] x $nDocs")
      // the 4-epoch cap holds in the materialized sample too
      assert(nSampled <= 4L * nDocs, s"$src: sample exceeds the 4-epoch cap")
    }
  }

  test("q205: mask conservation — prompt and trainable tokens partition every document") {
    val out = Registry.byName("q205_sft_mask").build(spark, sfDir).collect()
    assert(out.nonEmpty)
    var bothSides = 0
    out.foreach { r =>
      val (nTok, nPrompt, nTrain, inSum, lblSum) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nPrompt + nTrain === nTok, s"doc ${r.getLong(0)}: mask does not partition")
      assert(nPrompt >= 1, s"doc ${r.getLong(0)}: empty prompt (cut rule broken)")
      // labels are a sub-sum of the input checksum; equal only when
      // nothing is masked (never: the prompt is nonempty)
      assert(lblSum < inSum, s"doc ${r.getLong(0)}: label checksum not a strict sub-sum")
      if (nTrain === 0L) assert(lblSum === 0L)
      if (nPrompt > 0 && nTrain > 0) bothSides += 1
    }
    assert(bothSides > 0, "no document carries both prompt and completion — vacuous split")
  }

  // ---- q189: independent in-memory recomputation of the 5-family
  // method-selection table (r15 VERDICT #6: the sweep's precision/
  // recall arithmetic was proven only against the oracle it shares CTE
  // logic with; this recomputes every family — candidates, pools,
  // gradings, integer-micro stats — from raw fixture rows with plain
  // Scala collections and JDK md5, no Spark, no repo kernels). The
  // public rule constants are restated here on purpose: a drifting
  // constant on the engine side must FAIL this test, not follow it. ----

  test("q189: 5-family sweep equals an independent in-memory recomputation") {
    val P = 2147483647L
    val MINHASH_K = 12
    val JACC_TAU = 500000L
    val SEM_COS = 0.3
    val (dim, tables, planes) = (64, 8, 6)

    def toks(t: String): Vector[String] = t.toLowerCase.split(" ", -1).toVector

    // text side: distinct word-3-gram 60-bit hashes per doc
    val corpus = docs()
    val grams: Map[Long, Set[Long]] = corpus.map { case (id, t) =>
      val ws = toks(t)
      id -> (0 to ws.length - 3).map(i => h60(s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}")).toSet
    }.toMap

    // family 1: MinHash 6x2 banded buckets
    val sigs: Map[Long, Array[Long]] = corpus.flatMap { case (id, t) =>
      val ws = toks(t)
      if (ws.length < 3) None
      else {
        val mins = Array.fill(MINHASH_K)(Long.MaxValue)
        for (i <- 0 to ws.length - 3) {
          val hp = h60(s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}") % P
          for (k <- 0 until MINHASH_K) {
            val v = (hp * (2L * k + 3) + (5L * k + 1)) % P
            if (v < mins(k)) mins(k) = v
          }
        }
        Some(id -> mins)
      }
    }.toMap
    // (.toSeq after every groupBy below: flatMapping a Map that yields
    // tuples rebuilds a MAP and silently dedups by first element)
    val mhPairs: Set[(Long, Long)] = (for {
      j <- 0 until MINHASH_K / 2
      (_, ids) <- sigs.toSeq.groupBy { case (_, sg) => (sg(2 * j), sg(2 * j + 1)) }.toSeq
      a <- ids.map(_._1); b <- ids.map(_._1) if a < b
    } yield (a, b)).toSet

    // family 2: SimHash pigeonhole, hamming <= 3 verified
    val sim: Map[Long, Long] = corpus.map { case (id, t) =>
      val ws = toks(t) // every occurrence votes, empty tokens included
      val n = ws.length
      val ones = Array.fill(32)(0)
      ws.foreach { w =>
        val h = h60(w)
        for (i <- 0 until 32) if (((h >> i) & 1L) == 1L) ones(i) += 1
      }
      id -> (0 until 32).map(i => if (2 * ones(i) > n) 1L << i else 0L).sum
    }.toMap
    val shPairs: Set[(Long, Long)] = (for {
      j <- 0 until 4
      (_, ids) <- sim.toSeq.groupBy { case (_, sh) => (sh >> (8 * j)) & 255L }.toSeq
      a <- ids.map(_._1); b <- ids.map(_._1)
      if a < b && java.lang.Long.bitCount(sim(a) ^ sim(b)) <= 3
    } yield (a, b)).toSet

    // family 3: rare-shingle inverted index, >= 3 shared
    val df = grams.toSeq.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size }
    val rare: Set[Long] = df.collect { case (g, c) if c <= 4 => g }.toSet
    val ngPairs: Set[(Long, Long)] = (for {
      (g, _) <- df.toSeq if rare(g)
      ids = grams.collect { case (id, gs) if gs(g) => id }.toSeq
      a <- ids; b <- ids if a < b
    } yield (a, b)).groupBy(identity).filter(_._2.size >= 3).keySet.toSet

    // text grading: exact Jaccard over the pooled pairs
    val textPool = mhPairs ++ shPairs ++ ngPairs
    val textMatch: Map[(Long, Long), Boolean] = textPool.map { case (a, b) =>
      val (ga, gb) = (grams(a), grams(b))
      val i = (ga & gb).size.toLong
      (a, b) -> ((i * 1000000L) / (ga.size + gb.size - i) >= JACC_TAU)
    }.toMap
    val textTruth = textMatch.count(_._2).toLong

    // embedding side
    val vecs: Seq[(Long, Array[Double])] =
      graft.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq

    // family 4: sign-LSH buckets (floor(x * 32768) fixed-point, md5 sign
    // grid per (table, plane, dim) — the public rule the oracle states)
    val sgGrid = Array.tabulate(tables, planes, dim)((t, p, d0) =>
      1L - 2L * (h60(s"${t}_${p}_${d0 + 1}") % 2))
    val lshBk: Map[Long, Seq[(Int, Long)]] = vecs.map { case (id, v) =>
      val xi = v.map(x => math.floor(x * 32768).toLong)
      id -> (0 until tables).map { t =>
        var bk = 0L
        for (p <- 0 until planes) {
          var pr = 0L
          for (d0 <- 0 until dim) pr += xi(d0) * sgGrid(t)(p)(d0)
          if (pr > 0) bk += 1L << p
        }
        (t, bk)
      }
    }.toMap
    val lshPairs: Set[(Long, Long)] = (for {
      t <- 0 until tables
      (_, ids) <- lshBk.toSeq.flatMap { case (id, bks) => bks.collect { case (`t`, bk) => (bk, id) } }
        .groupBy(_._1).toSeq
      a <- ids.map(_._2); b <- ids.map(_._2) if a < b
    } yield (a, b)).toSet

    // family 5: two-round Lloyd cells (seeds vec_id < 8, round(avg, 6)
    // between rounds, ties to the lowest centroid id)
    def d2(v: Array[Double], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - c(i); s += d * d; i += 1 }
      s
    }
    def assign(cents: Seq[(Long, Array[Double])], v: Array[Double]): Long =
      cents.map { case (cid, c) => (d2(v, c), cid) }.minBy(identity)._2
    val seeds = vecs.filter(_._1 < 8).map { case (id, v) => (id, v) }.sortBy(_._1)
    val a1 = vecs.map { case (id, v) => (id, v, assign(seeds, v)) }
    val m1 = a1.groupBy(_._3).toSeq.map { case (cid, members) =>
      val c = Array.tabulate(dim) { d =>
        val xs = members.map(_._2(d))
        BigDecimal(xs.sum / xs.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      (cid, c)
    }.sortBy(_._1)
    val cells = vecs.map { case (id, v) => (id, assign(m1, v)) }
    val semPairs: Set[(Long, Long)] = (for {
      (_, ids) <- cells.groupBy(_._2).toSeq
      a <- ids.map(_._1); b <- ids.map(_._1) if a < b
    } yield (a, b)).toSet

    // embedding grading: exact cosine (sequential fold order, round 6)
    val byId = vecs.toMap
    val embPool = lshPairs ++ semPairs
    val embMatch: Map[(Long, Long), Boolean] = embPool.map { case (a, b) =>
      val (va, vb) = (byId(a), byId(b))
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dim) { dot += va(i) * vb(i); na += va(i) * va(i); nb += vb(i) * vb(i) }
      val cos = BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (a, b) -> (cos >= SEM_COS)
    }.toMap
    val embTruth = embMatch.count(_._2).toLong

    def stats(name: String, cand: Set[(Long, Long)],
        graded: Map[(Long, Long), Boolean], truth: Long) = {
      val matched = cand.count(graded(_)).toLong
      val n = cand.size.toLong
      (name, n, matched, truth, matched * 1000000L / n,
        if (truth > 0) matched * 1000000L / truth else 0L)
    }
    val expected = Seq(
      stats("minhash_6x2", mhPairs, textMatch, textTruth),
      stats("ngram_rare", ngPairs, textMatch, textTruth),
      stats("semantic_cell", semPairs, embMatch, embTruth),
      stats("sign_lsh", lshPairs, embMatch, embTruth),
      stats("simhash_h3", shPairs, textMatch, textTruth))

    val got = Registry.byName("q189_dedup_method_sweep").build(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got.map(_._1) === expected.map(_._1), "config row set differs")
    got.zip(expected).foreach { case (g, e) => assert(g === e, s"family ${e._1}") }
    // non-vacuous: every family proposes candidates and some truth exists
    assert(expected.forall(_._2 > 0) && textTruth > 0 && embTruth > 0)
  }

  // ---- q200: independent in-memory recomputation of the six-stage
  // crawl→shards funnel (r15 VERDICT #6): derive HTML, strip markup,
  // inject + redact PII, gate on length/quality, keep-first dedup,
  // shard + digest — all with plain JDK string ops. ----

  test("q200: crawl-to-shards manifest equals an independent in-memory recomputation") {
    def lpad4(sv: String): String =
      if (sv.length >= 4) sv.substring(0, 4) else ("0" * (4 - sv.length)) + sv
    def htmlOf(id: Long, source: String, text: String): String = {
      val sb = new StringBuilder
      sb ++= s"<html><head><title>$source #$id</title>"
      if (id % 7 == 0) sb ++= "<style type=\"text/css\">p { color: red }</style>"
      sb ++= "</head><body>"
      if (id % 5 == 0) sb ++= "<script>var x = 1 < 2; alert(\"&amp;\");</script>"
      sb ++= s"<h1 class=\"t\">$source</h1><p>"
      sb ++= text.replace(" the ", " &amp;the&nbsp;")
      sb ++= "</p>"
      if (id % 11 == 0) sb ++= "<p>broken <unclosed"
      if (id % 13 == 0) sb ++= "<script>no close"
      if (id % 19 == 0) sb ++= "<style>x<script>y</style>z</script>w"
      sb ++= "</body></html>"
      sb.toString
    }
    def stripHtml(html: String): String =
      html.replaceAll("(?is)<script[^>]*>.*?</script>", "")
        .replaceAll("(?is)<style[^>]*>.*?</style>", "")
        .replaceAll("<[^>]*>", " ")
        .replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
        .replace("&#39;", "'").replace("&nbsp;", " ").replace("&amp;", "&")
        .replaceAll("[ \\t\\r\\n]+", " ").trim
    def injectPii(id: Long, t: String): String = {
      val s1 = (id % 4) match {
        case 0 => s" contact user$id@ex-mail.org for access"
        case 1 => s" call 555-310-${lpad4(id.toString)}"
        case 2 => s" ssn 219-09-${lpad4(id.toString)}"
        case _ => ""
      }
      val s2 = if (id % 12 == 1) s" or user$id@alt-mail.net" else ""
      t + s1 + s2
    }
    def redact(t: String): String =
      t.replaceAll(Curation.EmailPat, "<EMAIL>")
        .replaceAll(Curation.SsnPat, "<SSN>")
        .replaceAll(Curation.PhonePat, "<PHONE>")

    val kept = docsWithSource()
      .map { case (id, src, text) =>
        (id, redact(injectPii(id, stripHtml(htmlOf(id, src, text)))))
      }
      .filter { case (id, t) =>
        val ws = t.split(" ", -1)
        val micro = BigDecimal(ws.distinct.length.toDouble / ws.length * 1000000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        ws.length >= 20 && micro >= 450000
      }
      .groupBy { case (_, t) => md5Hex(t) }
      .map { case (_, grp) => grp.minBy(_._1) }.toSeq // keep-first by doc_id
    val expected = kept
      .map { case (id, t) =>
        val h = h60(id.toString)
        (h % 16, h, id, t.split(" ", -1).length.toLong, t.length.toLong,
          s"$id:${md5Hex(t)}")
      }
      .groupBy(_._1).toSeq
      .map { case (shard, rows) =>
        val ordered = rows.sortBy(r => (r._2, r._3))
        (shard, rows.size.toLong, rows.map(_._4).sum, rows.map(_._5).sum,
          md5Hex(ordered.map(_._6).mkString(",")))
      }
      .sortBy(_._1)
    val got = Registry.byName("q200_crawl_to_shards").build(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got === expected)
    assert(expected.map(_._2).sum > 0, "empty funnel — vacuous fixture")
  }

  // ---- q211: independent in-memory block index + probe resolution ----

  test("q211: block index equals an independent in-memory implementation; every probe covered") {
    val ids = docs().map(_._1)
    val withH = ids.map(id => (id, h60(id.toString)))
    val byShard = withH.groupBy { case (_, h) => h % 16 }
    // (shard, block) -> fences; doc -> (shard, trueBlock)
    val fences = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    val truth = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for ((shard, rows) <- byShard) {
      val ordered = rows.sortBy { case (id, h) => (h, id) }
      for (((id, h), i) <- ordered.zipWithIndex) {
        val block = i.toLong / 8
        truth(id) = (shard, block)
        val (lo, hi) = fences.getOrElse((shard, block), (Long.MaxValue, Long.MinValue))
        fences((shard, block)) = (math.min(lo, h), math.max(hi, h))
      }
    }
    val expected = withH.filter { case (id, _) => id % 23 == 5 }
      .map { case (id, h) =>
        val (shard, tb) = truth(id)
        val cands = fences.toSeq.collect {
          case ((s, b), (lo, hi)) if s == shard && h >= lo && h <= hi => b
        }
        (id, shard, tb, cands.size.toLong, if (cands.contains(tb)) 1 else 0)
      }.sortBy(_._1)
    val got = Registry.byName("q211_export_block_index").build(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    assert(got === expected)
    assert(expected.nonEmpty && expected.forall(_._5 == 1),
      "a probe's true block escaped its candidate fences")
  }

  // ---- q218: independent in-memory two-layer index maintenance ----

  test("q218: layered block index equals an independent in-memory implementation; appends never lose a probe") {
    val ids = docs().map(_._1)
    val withH = ids.map(id => (id, h60(id.toString),
      if (id % 10 == 7) "delta" else "base"))
    val fences = scala.collection.mutable.Map.empty[(String, Long, Long), (Long, Long)]
    val truth = scala.collection.mutable.Map.empty[Long, (Long, String, Long)]
    for (((layer, shard), rows) <- withH.groupBy { case (_, h, l) => (l, h % 16) }) {
      val ordered = rows.sortBy { case (id, h, _) => (h, id) }
      for (((id, h, _), i) <- ordered.zipWithIndex) {
        val block = i.toLong / 8
        truth(id) = (shard, layer, block)
        val (lo, hi) = fences.getOrElse((layer, shard, block), (Long.MaxValue, Long.MinValue))
        fences((layer, shard, block)) = (math.min(lo, h), math.max(hi, h))
      }
    }
    val expected = withH.filter { case (id, _, _) => id % 23 == 5 }
      .map { case (id, h, _) =>
        val (shard, tl, tb) = truth(id)
        val cands = fences.toSeq.collect {
          case ((l, s, b), (lo, hi)) if s == shard && h >= lo && h <= hi => (l, b)
        }
        (id, shard, tl, tb, cands.size.toLong,
          if (cands.contains((tl, tb))) 1 else 0)
      }.sortBy(_._1)
    val got = Registry.byName("q218_index_maintenance").build(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getInt(5))).toSeq
    assert(got === expected)
    assert(expected.nonEmpty && expected.forall(_._6 == 1),
      "an appended layer lost a probe — the additive index is unsound")
    assert(expected.exists(_._3 == "delta"),
      "no delta-cohort probe — the append path went untested")
  }

  // ---- q212: independent in-memory contamination audit ----

  test("q212: flagged set equals an independent in-memory re-shingling; eval docs never flagged") {
    val corpus = docs()
    def shingles(t: String): Set[Long] = {
      val ws = t.toLowerCase.split(" ", -1)
      if (ws.length < 3) Set.empty
      else (0 to ws.length - 3).map(i => h60(s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}")).toSet
    }
    val bench = corpus.filter(_._1 % 50 == 0).flatMap(d => shingles(d._2)).toSet
    val flagged = corpus.filter(_._1 % 50 != 0)
      .filter(d => shingles(d._2).exists(bench)).map(_._1).toSet
    val expected = corpus.map(_._1).groupBy(id => h60(id.toString) % 16).toSeq
      .map { case (shard, idsIn) =>
        val fl = idsIn.filter(flagged).sorted
        (shard, idsIn.size.toLong, idsIn.count(_ % 50 == 0).toLong,
          fl.size.toLong, if (fl.isEmpty) "" else md5Hex(fl.mkString(",")))
      }.sortBy(_._1)
    val got = Registry.byName("q212_export_decontam_audit").build(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got === expected)
    assert(flagged.forall(_ % 50 != 0), "an eval doc was flagged as contaminated train data")
  }

  // ---- q213: lossless round-trip is TOTAL, word counts independently recomputed ----

  test("q213: every word round-trips losslessly; word totals match a plain-JDK tokenizer") {
    val got = Registry.byName("q213_detok_roundtrip").build(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(5)))
    assert(got.nonEmpty)
    got.foreach { case (src, nWords, nLossless, isMatch) =>
      assert(nWords === nLossless, s"source $src: lossy reassembly")
      assert(isMatch === 1, s"source $src: detok digest mismatch")
    }
    // independent word totals: plain-JDK NFC + unicode-word split (the
    // wordFeatCol rule, reimplemented without Spark or the repo kernel)
    val expected = docsWithSource().groupBy(_._2).map { case (src, ds) =>
      src -> ds.map { case (_, _, t) =>
        java.text.Normalizer.normalize(t.toLowerCase, java.text.Normalizer.Form.NFC)
          .split("[^\\p{L}\\p{N}]+").count(_.nonEmpty).toLong
      }.sum
    }
    got.foreach { case (src, nWords, _, _) =>
      assert(nWords === expected(src), s"source $src word total drift")
    }
  }

  // ---- q214: independent in-memory preference-pair miner ----

  test("q214: preference pairs equal an independent in-memory miner") {
    val cells = docsWithSource().map { case (id, src, t) =>
      val ws = t.toLowerCase.split(" ", -1)
      val score = BigDecimal(ws.distinct.length.toDouble / ws.length * 1000000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (src, ws.length.toLong / 16, id, score)
    }.groupBy(c => (c._1, c._2))
    val expected = cells.toSeq.flatMap { case ((src, bucket), ds) =>
      if (ds.size < 2) None
      else {
        val chosen = ds.minBy(d => (-d._4, d._3))
        val rejected = ds.minBy(d => (d._4, -d._3))
        val margin = chosen._4 - rejected._4
        if (margin >= 50000L)
          Some((src, bucket, chosen._3, rejected._3, margin, ds.size.toLong))
        else None
      }
    }.sortBy(e => (e._1, e._2))
    val got = Registry.byName("q214_preference_pairs").build(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    assert(expected.nonEmpty, "no pair cleared the margin — vacuous fixture")
    expected.foreach { case (_, _, c, rej, m, _) =>
      assert(c != rej && m > 0, "degenerate pair")
    }
  }

  // ---- q215: weight conservation against the q76 cluster assignment ----

  test("q215: weighted mass equals the cluster-size ledger derived from q76") {
    val w = Registry.byName("q215_dedup_weighting").build(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = w.map(_._1).sum
    val nClustered = w.map(_._2).sum
    val weightSum = w.map(_._3).sum
    val clusterSizes = Registry.byName("q76_dup_clusters").build(spark, sfDir)
      .collect().map(_.getLong(1)).groupBy(identity).map(_._2.length.toLong)
    // every clustered doc contributes 1e6 DIV |cluster|; the rest exactly 1e6
    val expectedSum = clusterSizes.map(sz => sz * (1000000L / sz)).sum +
      (nDocs - nClustered) * 1000000L
    assert(nClustered === clusterSizes.sum, "clustered-doc count drift vs q76")
    assert(weightSum === expectedSum, "weighted corpus mass drift vs q76 ledger")
    assert(weightSum < nDocs * 1000000L, "no down-weighting happened — vacuous fixture")
  }

  // ---- q225: independent in-memory inspection sample ----

  test("q225: the per-source sample equals an independent in-memory draw") {
    val expected = docsWithSource().map { case (id, src, t) =>
      (src, id, t.toLowerCase.split(" ", -1).length.toLong, md5Hex(t),
        h60(s"qa:$id"))
    }.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      ds.sortBy(d => (d._5, d._2)).take(3).zipWithIndex.map {
        case ((_, id, nTok, md, _), i) => (src, (i + 1).toLong, id, nTok, md)
      }
    }.sortBy(e => (e._1, e._2))
    val got = Registry.byName("q225_inspection_sample").build(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got === expected)
    assert(expected.size === expected.map(_._1).distinct.size * 3,
      "a source drew fewer than 3 sample docs — fixture too thin")
  }

  // ---- q227: schedule coherence against the q156 pack table ----

  test("q227: the schedule re-derives from q156's pack table and conserves tokens") {
    val pack = Registry.byName("q156_bpe_pack").build(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    val expected = pack.groupBy(p => (p._1, p._2 / 4)).toSeq
      .map { case ((src, _), chunks) =>
        (src, chunks.size.toLong, chunks.map(_._3).sum) }
      .groupBy(_._1).toSeq
      .map { case (src, steps) =>
        val full = steps.filter(_._2 == 4)
        (src, steps.size.toLong, full.size.toLong,
          steps.filter(_._2 != 4).map(_._2).sum,
          if (full.isEmpty) 0L else full.map(_._3).min,
          if (full.isEmpty) 0L else full.map(_._3).max,
          steps.map(_._3).sum)
      }.sortBy(_._1)
    val got = Registry.byName("q227_grad_accum").build(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === expected)
    // token conservation: the schedule holds exactly the packed corpus
    assert(got.map(_._7).sum === pack.map(_._3).sum)
  }

  // ---- q228: ablation curve invariants ----

  test("q228: merge prefixes monotonically trade vocab for fertility over a constant corpus") {
    val rows = Registry.byName("q228_merge_ablation").build(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq === Seq(16L, 32L, 64L))
    assert(rows.map(_._2).distinct.length === 1, "word total must not depend on k")
    assert(rows.sliding(2).forall { case Array(a, b) => b._3 < a._3 },
      "more merges must strictly shrink the token stream on this corpus")
    assert(rows.sliding(2).forall { case Array(a, b) => b._5 > a._5 },
      "more merges must strictly grow the emitted vocab on this corpus")
    rows.foreach { r =>
      assert(r._4 === r._3 * 1000000L / r._2, "fertility arithmetic drift") }
  }

  // ---- q229: independent plain-Scala S-curve recompute ----

  test("q229: the planner table equals a plain-Scala squaring-chain recompute") {
    def pow2(x: Double, k: Int): Double =
      (0 until k).foldLeft(x)((a, _) => a * a)
    val expected = for {
      (b, r, kb, kr) <- Seq((32L, 2L, 5, 1), (16L, 4L, 4, 2), (8L, 8L, 3, 3))
      i <- 1 to 9
    } yield {
      val sim = i.toDouble / 10
      val p = 1 - pow2(1 - pow2(sim, kr), kb)
      (b, r, i * 100000L,
        BigDecimal(p * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    val got = Registry.byName("q229_lsh_planner").build(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected.sortBy(e => (-e._1, e._3)))
    // the S-curve property: strictly increasing in s within each config
    got.groupBy(_._1).values.foreach { rows =>
      assert(rows.sortBy(_._3).map(_._4).sliding(2).forall {
        case Seq(a, b) => b >= a })
    }
  }

  // ---- q230: independent in-memory sampling-rule recompute ----

  test("q230: sampling stability report equals an independent in-memory recompute") {
    val all = docs().map(_._1)
    val v1 = all.filter(_ % 10 != 7)
    def hkey(id: Long) = h60(s"smp:$id")
    val h1 = v1.filter(hkey(_) % 100 < 10).toSet
    val h2 = all.filter(hkey(_) % 100 < 10).toSet
    val k = (v1.size + 9) / 10
    val r1 = v1.sortBy(id => (hkey(id), id)).take(k).toSet
    val r2 = all.sortBy(id => (hkey(id), id)).take(k).toSet
    val expected = (v1.size.toLong, all.size.toLong,
      h1.size.toLong, h2.size.toLong, (h1 & h2).size.toLong,
      if ((h1 & h2).size == h1.size) 1 else 0,
      r1.size.toLong, r2.size.toLong, (r1 & r2).size.toLong,
      (r1.size - (r1 & r2).size).toLong)
    val got = Registry.byName("q230_consistent_sampling").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9))).head
    assert(got === expected)
    assert(got._6 === 1, "hash-threshold sampling must be append-stable")
    assert((h1 -- h2).isEmpty, "a v1 hash-sampled doc vanished from v2's sample")
  }

  // ---- q226: flow-matrix conservation against q41's pair set ----

  test("q226: the flow matrix conserves q41's pairs and canonicalizes correctly") {
    val srcOf = docsWithSource().map(d => d._1 -> d._2).toMap
    val pairs = Registry.byName("q41_near_dup").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs
      .map { case (a, b) =>
        val (sa, sb) = (srcOf(a), srcOf(b))
        (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
      }
      .groupBy(identity).toSeq
      .map { case ((sa, sb), g) =>
        (sa, sb, g.length.toLong, if (sa == sb) 1 else 0) }
      .sortBy(e => (e._1, e._2))
    val got = Registry.byName("q226_dup_flow_matrix").build(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSeq
    assert(got === expected)
    assert(got.map(_._3).sum === pairs.length.toLong,
      "the matrix must conserve every q41 pair exactly once")
    got.foreach { case (sa, sb, _, _) => assert(sa <= sb, "not upper-triangular") }
  }

  // ---- fifth wave: independent in-memory recomputes ----

  test("q231: the Zipf profile equals an independent in-memory recompute") {
    val freqs = docsWithSource()
      .flatMap { case (_, src, t) =>
        t.toLowerCase.split(" ", -1).filter(_.nonEmpty).map(w => (src, w)) }
      .groupBy(identity).map { case ((src, w), g) => (src, w, g.length.toLong) }
    val expected = freqs.groupBy(_._1).toSeq.map { case (src, ws) =>
      val nTok = ws.map(_._3).sum
      val nTyp = ws.size.toLong
      val hapax = ws.count(_._3 == 1).toLong
      val head = ws.toSeq.sortBy(w => (-w._3, w._2)).take(100).map(_._3).sum
      (src, nTok, nTyp, hapax, head * 1000000 / nTok,
        hapax * 1000000 / nTyp, nTyp * 1000000 / nTok)
    }.sortBy(_._1)
    val got = Registry.byName("q231_zipf_profile").build(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === expected)
  }

  test("q232: growth novelty equals an independent in-memory recompute") {
    val ds = docsWithSource()
    def words(t: String) = t.toLowerCase.split(" ", -1).filter(_.nonEmpty)
    val v1Types = ds.filter(_._1 % 10 != 7).flatMap(d => words(d._3)).toSet
    val expected = ds.filter(_._1 % 10 == 7)
      .flatMap { case (_, src, t) => words(t).map(w => (src, w)) }
      .groupBy(_._1).toSeq.map { case (src, ws) =>
        val byW = ws.groupBy(_._2).map { case (w, g) => (w, g.length.toLong) }
        val novel = byW.filter { case (w, _) => !v1Types(w) }
        val dTok = byW.values.sum
        (src, dTok, byW.size.toLong, novel.size.toLong, novel.values.sum,
          novel.values.sum * 1000000 / dTok)
      }.sortBy(_._1)
    val got = Registry.byName("q232_growth_novelty").build(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("q233: the cross-tab conserves docs and agrees with q76's dup set") {
    val dup = Registry.byName("q76_dup_clusters").build(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val expected = docs().map { case (id, t) =>
      val ws = t.toLowerCase.split(" ", -1)
      val score = BigDecimal(ws.distinct.length.toDouble / ws.length * 1000000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (score / 100000, if (dup(id)) 1L else 0L)
    }.groupBy(_._1).toSeq.map { case (band, g) =>
      val nDup = g.map(_._2).sum
      (band, g.size.toLong, nDup, nDup * 1000000 / g.size)
    }.sortBy(_._1)
    val got = Registry.byName("q233_quality_dup_interaction").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === expected)
    assert(got.map(_._2).sum === docs().size.toLong, "cross-tab lost docs")
    assert(got.map(_._3).sum === dup.size.toLong, "cross-tab lost duplicates")
  }

  test("q234: the sweep equals an in-memory recompute and keep-rate is monotone in the threshold") {
    val scored = docs().map { case (_, t) =>
      val ws = t.toLowerCase.split(" ", -1)
      (ws.length.toLong,
        BigDecimal(ws.distinct.length.toDouble / ws.length * 1000000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    val (nAll, tokAll) = (scored.size.toLong, scored.map(_._1).sum)
    val expected = Seq(350000L, 450000L, 550000L).map { th =>
      val kept = scored.filter(_._2 >= th)
      (th, kept.size.toLong, kept.map(_._1).sum,
        kept.size.toLong * 1000000 / nAll, kept.map(_._1).sum * 1000000 / tokAll)
    }
    val got = Registry.byName("q234_threshold_sweep").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    assert(got.map(_._2).sliding(2).forall { case Seq(a, b) => b <= a },
      "keep count must be non-increasing in the threshold")
  }

  test("q235: the burstiness table equals an independent in-memory recompute") {
    val expected = docs()
      .flatMap { case (id, t) =>
        t.toLowerCase.split(" ", -1).filter(_.nonEmpty).map(w => (w, id)) }
      .groupBy(identity).map { case ((w, id), g) => (w, id, g.length.toLong) }
      .groupBy(_._1).toSeq.map { case (w, g) =>
        val total = g.map(_._3).sum
        (w, total, g.size.toLong, g.map(_._3).max, total * 1000000 / g.size)
      }.sortBy(e => (-e._2, e._1)).take(20)
    val got = Registry.byName("q235_burstiness").build(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
  }

  test("q236: merged-schema legacy rows are exactly the pre-evolution cohort") {
    val byShard = docs().map(_._1).groupBy(id => h60(id.toString) % 16)
    val expected = byShard.toSeq.map { case (shard, ids) =>
      val legacy = ids.filter(_ % 10 != 7).sorted
      (shard, ids.size.toLong, legacy.size.toLong,
        (ids.size - legacy.size).toLong, md5Hex(legacy.mkString(",")))
    }.sortBy(_._1)
    val got = Registry.byName("q236_schema_evolution").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(5))).toSeq
    assert(got === expected)
  }

  // ---- q216: independent in-memory SQ8 quantizer ----

  test("q216: quantization table equals an independent in-memory quantizer") {
    def hu(d: Double): Long =
      BigDecimal(d).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expected = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map { r =>
        val v = r.getSeq[Float](2).map(_.toDouble)
        val scale = v.map(math.abs).max
        val codes =
          if (scale > 0) v.map(y => hu(y / scale * 127)) else v.map(_ => 0L)
        val sse = v.zip(codes).map { case (y, q) =>
          val e = y - q * scale / 127
          hu(e * e * 1e12)
        }.sum
        (r.getLong(0), r.getInt(1), v.length.toLong, hu(scale * 1e6),
          codes.zipWithIndex.map { case (q, i) => q * (i + 1) }.sum,
          sse, v.length.toLong * 4, v.length.toLong + 8)
      }.sortBy(_._1).toSeq
    val got = Registry.byName("q216_sq8_quantize").build(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got === expected)
    assert(expected.exists(_._6 > 0), "zero reconstruction error everywhere — vacuous")
  }
}
