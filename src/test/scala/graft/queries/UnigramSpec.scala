package graft.queries

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Exactness gate for the unigram-LM tokenizer (q175 train / q176
  * apply), the BpeSpec pattern: an independent in-memory implementation
  * (plain Scala collections, no Spark, no shared code with the
  * distributed one or the oracle) must reproduce the hard-EM chain —
  * seed substring counts, add-1 integer-micro scores, Viterbi with the
  * (score, −ntok, longer-final-piece) tie-break, one EM cycle — and
  * match the distributed model and per-document counts EXACTLY. Plus an
  * optimality property: the Viterbi segmentation's score beats every
  * exhaustively-enumerated alternative segmentation.
  */
class UnigramSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  // ---- independent reference (duplicates BpeSpec's corpus derivation
  // on purpose: reference implementations share no code) ----

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
      case "de" => t.replace("a", "ä").replace("o", "ö")
        .replace("u", "가")
      case "es" => tr("aeioun", "áéíóúñ".map(_.toString))
      case "fr" => tr("aec", "àéç".map(_.toString))
      case _ => t
    }
  }

  private def refWords(lang: String, text: String): Seq[String] =
    java.text.Normalizer.normalize(refTranslit(lang, text),
        java.text.Normalizer.Form.NFC)
      .split("[^\\p{L}\\p{N}]+").toSeq.filter(_.nonEmpty)

  private def cps(w: String): Vector[String] =
    w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))

  private def micro(x: Long): Long = math.round(math.log(x.toDouble) * 1000000)

  /** Viterbi: best (score, ntok, pieces) with the documented tie-break. */
  private def viterbi(w: Vector[String], scores: Map[String, Long])
    : (Long, Int, List[String]) = {
    val n = w.length
    val best = Array.fill[Option[(Long, Int, List[String])]](n + 1)(None)
    best(0) = Some((0L, 0, Nil))
    for (i <- 1 to n) {
      val cands = for {
        j <- 1 to math.min(4, i)
        piece = w.slice(i - j, i).mkString
        s <- scores.get(piece)
        b <- best(i - j)
      } yield ((-(b._1 + s), b._2 + 1, -j), (b._1 + s, b._2 + 1, b._3 :+ piece))
      if (cands.nonEmpty) best(i) = Some(cands.minBy(_._1)._2)
    }
    best(n).get
  }

  private case class RefModel(
      m2: Map[String, Long],          // piece -> shipped (M2) integer-micro score
      seg3: Map[String, (Int, List[String])], // word -> (ntok, pieces), E3
      c3: Map[String, Long])          // piece -> E3 corpus-weighted count

  private lazy val corpus: Seq[(Long, String, String)] =
    graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)).getOrElse("")))
      .toSeq

  private lazy val ref: RefModel = {
    val hist: Map[String, Long] =
      corpus.flatMap { case (_, lang, t) => refWords(lang, t) }
        .groupMapReduce(identity)(_ => 1L)(_ + _)
    // seed: substring counts, top-200 multi + all singles
    val pcnt = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- hist; c = cps(w); st <- c.indices;
         ln <- 1 to math.min(4, c.length - st))
      pcnt.updateWith(c.slice(st, st + ln).mkString)(o => Some(o.getOrElse(0L) + f))
    val multiTop = pcnt.toSeq
      .filter { case (p, _) => p.codePointCount(0, p.length) >= 2 }
      .sortBy { case (p, c) => (-c, p) }.take(200)
    val singles = pcnt.toSeq.filter { case (p, _) => p.codePointCount(0, p.length) == 1 }
    val seedv = (multiTop ++ singles).toMap
    def score(counts: Map[String, Long]): Map[String, Long] = {
      val denom = counts.values.sum + counts.size
      counts.map { case (p, c) => p -> (micro(c + 1) - micro(denom)) }
    }
    val seed = score(seedv)
    val seg1 = hist.keys.map(w => w -> viterbi(cps(w), seed)).toMap
    val c1 = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- hist; p <- seg1(w)._3)
      c1.updateWith(p)(o => Some(o.getOrElse(0L) + f))
    val v1 = (c1.keySet ++ singles.map(_._1)).map(p => p -> c1.getOrElse(p, 0L)).toMap
    val m1 = score(v1)
    val seg2 = hist.keys.map(w => w -> viterbi(cps(w), m1)).toMap
    val c2 = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- hist; p <- seg2(w)._3)
      c2.updateWith(p)(o => Some(o.getOrElse(0L) + f))
    // round 16: prune-and-retrain — multi-char pieces used < 2 times in
    // E2 drop out (singles always survive), re-score, re-Viterbi. The
    // prune floor is restated here as a rule constant on purpose: a
    // drifting engine-side threshold must FAIL this pin, not follow it.
    val v2 = (c2.collect { case (p, c)
        if p.codePointCount(0, p.length) == 1 || c >= 2L => p }.toSet
      ++ singles.map(_._1))
      .map(p => p -> c2.getOrElse(p, 0L)).toMap
    val m2 = score(v2)
    val seg3 = hist.keys.map(w => w -> viterbi(cps(w), m2)).toMap
    val c3 = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- hist; p <- seg3(w)._3)
      c3.updateWith(p)(o => Some(o.getOrElse(0L) + f))
    RefModel(m2, seg3.view.mapValues(v => (v._2, v._3)).toMap, c3.toMap)
  }

  test("q175: distributed top-40 piece table EXACTLY equals the independent reference") {
    val got = Registry.byName("q175_unigram_train").build(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val want = ref.c3.toSeq.sortBy { case (p, c) => (-c, p) }.take(40)
      .zipWithIndex
      .map { case ((p, c), i) => (i + 1L, p, c, ref.m2(p)) }
    assert(got.size === 40)
    assert(got === want)
  }

  test("q176: per-document unigram counts match the reference exactly, with budget invariants") {
    val got = Registry.byName("q176_unigram_tokenize").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    corpus.foreach { case (docId, lang, text) =>
      val ws = refWords(lang, text)
      val want = (ws.size.toLong, ws.map(w => ref.seg3(w)._1.toLong).sum)
      assert(got(docId) === want, s"doc $docId: got ${got(docId)}, want $want")
      val (nw, nt) = got(docId)
      assert(nt >= nw, s"doc $docId: fewer tokens than words")
      assert(nt <= ws.map(w => w.codePointCount(0, w.length).toLong).sum,
        s"doc $docId: more tokens than codepoints")
    }
    assert(got.size === corpus.size)
  }

  test("Viterbi optimality: the chosen segmentation beats every exhaustive alternative") {
    // For a sample of fixture words, enumerate ALL segmentations into
    // model pieces (exponential — keep words short) and assert the DP's
    // (score, −ntok) is the lexicographic maximum.
    val m2 = ref.m2
    def allSegs(w: Vector[String]): Seq[(Long, Int)] = {
      if (w.isEmpty) Seq((0L, 0))
      else (1 to math.min(4, w.length)).flatMap { j =>
        val piece = w.take(j).mkString
        m2.get(piece) match {
          case Some(s) => allSegs(w.drop(j)).map { case (ts, tn) => (s + ts, tn + 1) }
          case None => Seq.empty
        }
      }
    }
    val words = corpus.flatMap { case (_, lang, t) => refWords(lang, t) }
      .distinct.filter(w => w.codePointCount(0, w.length) <= 10).take(60)
    assert(words.nonEmpty)
    words.foreach { w =>
      val v = viterbi(cps(w), m2)
      val best = allSegs(cps(w)).maxBy { case (s, n) => (s, -n) }
      assert((v._1, v._2) === best,
        s"word '$w': viterbi (${v._1}, ${v._2}) vs exhaustive $best")
      // and the reported pieces reassemble the word
      assert(v._3.mkString === w)
    }
  }

  test("q175 is deterministic across runs") {
    val a = Registry.byName("q175_unigram_train").build(spark, sfDir)
      .collect().map(_.toString).toSeq
    val b = Registry.byName("q175_unigram_train").build(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(a === b)
  }
}
