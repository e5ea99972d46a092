package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Parity gate for the native sketch kernels: each must match, per
  * document/vector on real fixture data, the SQL expression forest it
  * replaced in the Pipeline queries (the formulation the DuckDB oracles
  * mirror). A drift in tokenization, hashing, or plane signs fails here,
  * not in a later oracle mismatch.
  */
class SketchParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
  private def emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private val P = Sketches.P
  private val K = Sketches.K

  test("md5Prefix60 equals conv(substr(md5(x),1,15),16,10)") {
    val viaSql = docs.select(col("doc_id"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast(LongType).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaKernel = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        Sketches.md5Prefix60(r.getString(1).getBytes("UTF-8"))).toMap
    assert(viaKernel === viaSql)
  }

  test("graft_simhash32 equals the explode + 33-aggregate SQL formulation") {
    val tokens = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 15), 16, 10).cast(LongType).as("hb"))
    val bitSums = tokens.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"),
        (0 until Sketches.SIMBITS).map(i =>
          sum(expr(s"shiftright(hb, $i) % 2")).as(s"bs$i")): _*)
    val oldWay = bitSums.select(col("doc_id"),
        (0 until Sketches.SIMBITS)
          .map(i => when(col(s"bs$i") * 2 > col("n"), 1L << i).otherwise(0L))
          .reduce(_ + _).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val newWay = docs.select(col("doc_id"), expr("graft_simhash32(text)"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(newWay === oldWay)
  }

  test("graft_minhash_sig equals the shingle-explode + 12-min SQL formulation") {
    val words = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
    val shingles = words
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("ws")) - 2)).as("i"), col("ws"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("ws"), col("i")),
        element_at(col("ws"), col("i") + 1),
        element_at(col("ws"), col("i") + 2)).as("s"))
    val hp = shingles.select(col("doc_id"),
      (conv(substring(md5(col("s")), 1, 15), 16, 10).cast(LongType) % P).as("hp"))
    val oldWay = hp.groupBy(col("doc_id"))
      .agg(min((col("hp") * Sketches.hashA(0) + Sketches.hashB(0)) % P).as("m0"),
        (1 until K).map(i =>
          min((col("hp") * Sketches.hashA(i) + Sketches.hashB(i)) % P).as(s"m$i")): _*)
      .collect().map(r => r.getLong(0) -> (1 to K).map(r.getLong).toSeq).toMap
    val newWay = docs
      .select(col("doc_id"), expr("graft_minhash_sig(text)").as("sig"))
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(newWay === oldWay)
    // documents with < 3 tokens (and only those) are null-signatured
    val nullIds = docs.select(col("doc_id"), expr("graft_minhash_sig(text)").as("sig"))
      .filter(col("sig").isNull).count()
    assert(nullIds === docs.count() - oldWay.size)
  }

  test("graft_shingle_hashes explode+distinct equals hashed string-shingle distinct") {
    val words = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
    val oldWay = words
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("ws")) - 2)).as("i"), col("ws"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("ws"), col("i")),
        element_at(col("ws"), col("i") + 1),
        element_at(col("ws"), col("i") + 2)).as("s"))
      .select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast(LongType).as("h"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val newWay = docs
      .select(col("doc_id"), explode(expr("graft_shingle_hashes(text)")).as("h"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(newWay === oldWay)
  }

  test("graft_gram_hashes(text, 8) equals the sequence-explode + slice + array_join + md5 tree (positional)") {
    val K = 8
    val oldWay = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= K)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("ws")) - (K - 1))).as("pos"), col("ws"))
      .select(col("doc_id"), col("pos").cast(LongType),
        conv(substring(md5(array_join(slice(col("ws"), col("pos"), lit(K)), " ")),
          1, 15), 16, 10).cast(LongType).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val newWay = docs
      .select(col("doc_id"),
        posexplode(expr(s"graft_gram_hashes(text, $K)")).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast(LongType), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(newWay === oldWay)
  }

  test("graft_dist2 equals the aggregate(zip_with(...)) squared-L2 fold bit-for-bit") {
    val dbl = (c: org.apache.spark.sql.Column) =>
      transform(c, x => x.cast(DoubleType))
    val pairs = emb.select(col("vec_id"), dbl(col("embedding")).as("a"))
      .crossJoin(emb.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("w"), dbl(col("embedding")).as("b")))
    val both = pairs.select(col("vec_id"), col("w"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, t) => acc + t).as("fold"),
        expr("graft_dist2(a, b)").as("native"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        s"dist2 drift at (${r.getLong(0)}, ${r.getLong(1)})")
    }
    // edge cases: empty arrays fold to the 0.0 init; length mismatch
    // zips a null in -> null; a null element null-propagates
    val edge = spark.sql(
      """SELECT graft_dist2(CAST(array() AS array<double>),
        |                   CAST(array() AS array<double>)) AS e,
        |  graft_dist2(array(1.0d), array(1.0d, 2.0d)) AS m,
        |  graft_dist2(array(1.0d, NULL), array(1.0d, 2.0d)) AS nn""".stripMargin)
      .collect()(0)
    assert(edge.getDouble(0) === 0.0)
    assert(edge.isNullAt(1) && edge.isNullAt(2))
  }

  test("cosine_similarity over array<double> equals the fold form with precomputed norms bit-for-bit") {
    val dbl = (c: org.apache.spark.sql.Column) =>
      transform(c, x => x.cast(DoubleType))
    val fold = (c: org.apache.spark.sql.Column) =>
      aggregate(c, lit(0.0), (acc: org.apache.spark.sql.Column,
        x: org.apache.spark.sql.Column) => acc + x)
    val v = emb.select(col("vec_id"), dbl(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(fold(zip_with(col("v"), col("v"), (x, y) => x * y))))
    val q = v.filter(col("vec_id") === 1)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val both = v.crossJoin(q)
      .select(col("vec_id"),
        (fold(zip_with(col("v"), col("qv"), (x, y) => x * y)) /
          (col("nrm") * col("qn"))).as("foldcos"),
        expr("cosine_similarity(v, qv)").as("native"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"cosine drift at vec ${r.getLong(0)}")
    }
  }

  test("graft_line_hashes equals the explode + slice + md5 segment formulation (incl. partial tails)") {
    val W = Sketches.LINE_WORDS
    val oldWay = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .withColumn("n_segs", ceil(size(col("ws")) / lit(W.toDouble)).cast(LongType))
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_segs") - 1)).as("si"), col("ws"))
      .select(col("doc_id"), col("si"),
        conv(substring(md5(array_join(
          slice(col("ws"), (col("si") * W + 1).cast(IntegerType), lit(W)), " ")), 1, 15), 16, 10)
          .cast(LongType).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val newWay = docs
      .select(col("doc_id"), posexplode(expr("graft_line_hashes(text)")).as(Seq("si", "h")))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).toSet
    assert(newWay === oldWay)
    // Every non-null text yields at least one segment (even one word).
    val nSegRows = docs.select(explode(expr("graft_line_hashes(text)"))).count()
    assert(nSegRows >= docs.filter(col("text").isNotNull).count())
    // Edge strings the fixture lacks: empty text, single word, double
    // spaces (empty tokens), trailing space, exactly-one/just-over-one
    // segment widths — the kernel must match the SQL form on all.
    import spark.implicits._
    val edge = Seq(
      (1L, ""), (2L, "a"), (3L, "a  b"), (4L, "a b c d e"),
      (5L, "a b c d e f"), (6L, "ends with space "), (7L, "  "))
      .toDF("doc_id", "text")
    val edgeOld = edge
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .withColumn("n_segs", ceil(size(col("ws")) / lit(W.toDouble)).cast(LongType))
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_segs") - 1)).as("si"), col("ws"))
      .select(col("doc_id"), col("si"),
        conv(substring(md5(array_join(
          slice(col("ws"), (col("si") * W + 1).cast(IntegerType), lit(W)), " ")), 1, 15), 16, 10)
          .cast(LongType).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val edgeNew = edge
      .select(col("doc_id"), posexplode(expr("graft_line_hashes(text)")).as(Seq("si", "h")))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2))).toSet
    assert(edgeNew === edgeOld)
  }

  test("graft_lsh_buckets equals the dim-explode + sign-grid-join SQL formulation") {
    val xi = emb.select(col("vec_id"),
        explode(sequence(lit(1), lit(Sketches.DIM))).as("d"), col("embedding"))
      .select(col("vec_id"), col("d"),
        floor(element_at(col("embedding"), col("d")).cast(DoubleType) * 32768)
          .cast(LongType).as("xi"))
    import spark.implicits._
    val grid = (for {
      t <- 0 until Sketches.TABLES; p <- 0 until Sketches.PLANES; d <- 1 to Sketches.DIM
    } yield (t, p, d, Sketches.planeSign(t, p, d))).toDF("t", "p", "d", "sg")
    val oldWay = xi.join(broadcast(grid), "d")
      .groupBy(col("vec_id"), col("t"), col("p"))
      .agg(sum(col("xi") * col("sg")).as("pr"))
      .groupBy(col("vec_id"), col("t"))
      .agg(sum(expr("CASE WHEN pr > 0 THEN shiftleft(1L, int(p)) ELSE 0L END")).as("bk"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val newWay = emb.select(col("vec_id"),
        posexplode(expr("graft_lsh_buckets(embedding)")).as(Seq("t", "bk")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(newWay === oldWay)
  }

  test("graft_minhash_agg equals K separate min() aggregates (incl. the merge path)") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      // 8 input partitions force partial buffers + merge() before final eval
      .repartition(8)
      .select(col("user_id"),
        (conv(substring(md5(concat(col("event_type"), lit("_"),
          floor(col("value")).cast(LongType))), 1, 15), 16, 10)
          .cast(LongType) % P).as("hp"))
    val viaMins = events.groupBy(col("user_id"))
      .agg(min((col("hp") * Sketches.hashA(0) + Sketches.hashB(0)) % P).as("m0"),
        (1 until K).map(i =>
          min((col("hp") * Sketches.hashA(i) + Sketches.hashB(i)) % P).as(s"m$i")): _*)
      .collect().map(r => r.getLong(0) -> (1 to K).map(r.getLong).toSeq).toMap
    val viaAgg = events.groupBy(col("user_id"))
      .agg(expr("graft_minhash_agg(hp)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaAgg === viaMins)
  }

  test("graft_minhash_agg over an all-null group is NULL, like SQL min") {
    import spark.implicits._
    val rows = Seq[(Long, Option[Long])](
      (1L, None), (1L, None),              // all-null group
      (2L, Some(7L)), (2L, None),          // mixed group: nulls skipped
      (3L, Some(11L)), (3L, Some(13L)))    // no-null group
      .toDF("g", "hp")
      .repartition(4) // force partial buffers + merge() of untouched sentinels
    val out = rows.groupBy(col("g"))
      .agg(expr("graft_minhash_agg(hp)").as("sig"), min(col("hp")).as("m"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    // sig nullability tracks min() nullability exactly
    assert(out === Map(1L -> (true, true), 2L -> (false, false), 3L -> (false, false)))
    val sig2 = rows.filter(col("g") === 2L).groupBy(col("g"))
      .agg(expr("graft_minhash_agg(hp)").as("sig"))
      .collect().head.getSeq[Long](1)
    val expected2 = (0 until Sketches.K)
      .map(k => (7L * Sketches.hashA(k) + Sketches.hashB(k)) % Sketches.P)
    assert(sig2 === expected2) // null rows contributed nothing
  }

  test("kernels match SQL formulations on adversarial strings (empty tokens, unicode, case)") {
    import spark.implicits._
    // Edge cases fixture text never exercises: leading/trailing/repeated
    // spaces (empty tokens), uppercase (Unicode lowercasing), multi-byte
    // and supplementary characters, single-token and empty-ish strings.
    val edge = Seq(
      "", " ", "  ", "a", "a b", "a  b", " a b ", "A B C", "ÄÖÜ ss ß",
      "的 的 的 x", "😀 😀 a b", "the the the der el", "1 2 3 4 5",
      "a\tb c d", "MiXeD CaSe MiXeD CaSe Mi")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // simhash
    val tokens = edge
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 15), 16, 10).cast(LongType).as("hb"))
    val bitSums = tokens.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"),
        (0 until Sketches.SIMBITS).map(i =>
          sum(expr(s"shiftright(hb, $i) % 2")).as(s"bs$i")): _*)
    val simOld = bitSums.select(col("doc_id"),
        (0 until Sketches.SIMBITS)
          .map(i => when(col(s"bs$i") * 2 > col("n"), 1L << i).otherwise(0L))
          .reduce(_ + _).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val simNew = edge.select(col("doc_id"), expr("graft_simhash32(text)"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(simNew === simOld)
    // minhash signature (incl. null for < 3 tokens)
    val words = edge
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
    val mhOld = words
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("ws")) - 2)).as("i"), col("ws"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("ws"), col("i")),
        element_at(col("ws"), col("i") + 1),
        element_at(col("ws"), col("i") + 2)).as("s"))
      .select(col("doc_id"),
        (conv(substring(md5(col("s")), 1, 15), 16, 10).cast(LongType) % P).as("hp"))
      .groupBy(col("doc_id"))
      .agg(min((col("hp") * Sketches.hashA(0) + Sketches.hashB(0)) % P).as("m0"),
        (1 until K).map(i =>
          min((col("hp") * Sketches.hashA(i) + Sketches.hashB(i)) % P).as(s"m$i")): _*)
      .collect().map(r => r.getLong(0) -> (1 to K).map(r.getLong).toSeq).toMap
    val mhNew = edge
      .select(col("doc_id"), expr("graft_minhash_sig(text)").as("sig"))
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(mhNew === mhOld)
    // text counts
    val markers = Seq("en" -> "the", "de" -> "der", "es" -> "el", "fr" -> "le", "zh" -> "的")
    val base = edge
      .withColumn("ws", split(lower(col("text")), " "))
      .withColumn("n_tok", size(col("ws")))
      .withColumn("n_rgx",
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))))
    val tcOld = markers.foldLeft(base) { case (df, (code, word)) =>
        df.withColumn(s"c_$code", size(filter(col("ws"), w => w === word)))
      }
      .select(col("doc_id"), col("n_tok"), col("n_rgx"),
        col("c_en"), col("c_de"), col("c_es"), col("c_fr"), col("c_zh"))
      .collect()
      .map(r => r.getLong(0) -> (1 to 7).map(i => r.getInt(i).toLong).toSeq).toMap
    val tcNew = edge.select(col("doc_id"), expr("graft_text_counts(text)").as("tc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(tcNew === tcOld)
  }

  test("graft_span_hashes equals the strided-substring SQL formulation (incl. null under one window)") {
    val W = Sketches.SPAN_W
    val S = Sketches.SPAN_S
    val base = docs.select(col("doc_id"), lower(col("text")).as("nt"))
    val oldWay = base
      .filter(length(col("nt")) >= W)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("nt")) - (W - 1), lit(S))).as("i"), col("nt"))
      .select(col("doc_id"), col("i"),
        conv(substring(md5(expr(s"substring(nt, i, $W)")), 1, 15), 16, 10)
          .cast(LongType).as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val newWay = docs
      .select(col("doc_id"), posexplode(expr("graft_span_hashes(text)")).as(Seq("j", "h")))
      .collect().map(r => (r.getLong(0), r.getInt(1) * S + 1) -> r.getLong(2)).toMap
    assert(newWay === oldWay)
    // documents shorter than one window (and only those) are null
    import spark.implicits._
    val edge = Seq((1L, "short"), (2L, "x" * (Sketches.SPAN_W - 1)),
      (3L, "y" * Sketches.SPAN_W), (4L, "Z" * (Sketches.SPAN_W + Sketches.SPAN_S)))
      .toDF("doc_id", "text")
    val nulls = edge.select(col("doc_id"), expr("graft_span_hashes(text)").as("hs"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(nulls === Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
    val sizes = edge.filter(col("doc_id") >= 3)
      .select(col("doc_id"), size(expr("graft_span_hashes(text)")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sizes === Map(3L -> 1, 4L -> 2)) // lowercasing applied before windowing
  }

  test("graft_trigram_hashes equals the sequence-explode + substring + md5 SQL formulation") {
    def sqlTrigrams(df: DataFrame) = df
      .filter(col("text").isNotNull && length(col("text")) >= 3)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - 2)).as("i"), col("text"))
      .select(col("doc_id"), col("i"),
        conv(substring(md5(expr("substring(text, i, 3)")), 1, 15), 16, 10)
          .cast(LongType).as("h"))
    def kernelTrigrams(df: DataFrame) = df
      .select(col("doc_id"), posexplode(expr("graft_trigram_hashes(text)")).as(Seq("j", "h")))
      .select(col("doc_id"), (col("j") + 1).as("i"), col("h"))
    def toMap(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(toMap(kernelTrigrams(docs)) === toMap(sqlTrigrams(docs)))
    // edge strings: raw case preserved (no lowercasing), unicode code
    // points count as one char, <3-char docs are the null population
    import spark.implicits._
    val edge = Seq("", "ab", "abc", "AbCd", "a b c", "的的的的", "😀😀😀a")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    assert(toMap(kernelTrigrams(edge)) === toMap(sqlTrigrams(edge)))
    val nulls = edge.select(col("doc_id"), expr("graft_trigram_hashes(text)").as("hs"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(nulls === Map(0L -> true, 1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false, 6L -> false))
  }

  test("graft_bigram_hashes equals the sequence-explode + two-md5 SQL formulation") {
    def sqlBigrams(df: DataFrame) = df
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i"), col("ws"))
      .select(col("doc_id"), col("i"),
        conv(substring(md5(element_at(col("ws"), col("i"))), 1, 15), 16, 10)
          .cast(LongType).as("h1"),
        conv(substring(md5(concat_ws(" ",
          element_at(col("ws"), col("i")),
          element_at(col("ws"), col("i") + 1))), 1, 15), 16, 10)
          .cast(LongType).as("h2"))
    def kernelBigrams(df: DataFrame) = df
      .select(col("doc_id"), posexplode(expr("graft_bigram_hashes(text)")).as(Seq("j", "bh")))
      .select(col("doc_id"), (col("j") + 1).as("i"), col("bh.h1"), col("bh.h2"))
    def toMap(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(toMap(kernelBigrams(docs)) === toMap(sqlBigrams(docs)))
    // edge strings: empty tokens, unicode, single-token null population
    import spark.implicits._
    val edge = Seq("", " ", "a", "a b", " a  b ", "A B C", "的 的 x", "😀 a")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    assert(toMap(kernelBigrams(edge)) === toMap(sqlBigrams(edge)))
    val nulls = edge.select(col("doc_id"), expr("graft_bigram_hashes(text)").as("bh"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(nulls === Map(0L -> true, 1L -> false, 2L -> true, 3L -> false,
      4L -> false, 5L -> false, 6L -> false, 7L -> false))
  }

  test("graft_char_entropy equals the explode + count + log2 SQL formulation") {
    val perChar = docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")))).as("i"), col("text"))
      .select(col("doc_id"), expr("substring(text, i, 1)").as("c"))
      .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("cnt"))
    val oldWay = perChar.groupBy(col("doc_id"))
      .agg((log2(sum(col("cnt"))) -
        sum(col("cnt") * log2(col("cnt"))) / sum(col("cnt"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val newWay = docs.select(col("doc_id"), expr("graft_char_entropy(text)"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(newWay.keySet === oldWay.keySet)
    // summation order differs (map iteration vs aggregate); equality is
    // up to float associativity — far inside the 6-decimal oracle round
    newWay.foreach { case (id, h) => assert(math.abs(h - oldWay(id)) < 1e-9, s"doc $id") }
    // degenerate inputs: empty -> 0.0, single repeated char -> 0.0
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "aaaa"), (3L, "ab"), (4L, "的的aa"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), expr("graft_char_entropy(text)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(edge(1L) === 0.0 && edge(2L) === 0.0 && edge(3L) === 1.0 && edge(4L) === 1.0)
  }

  test("graft_text_counts equals split/filter/regexp_extract_all formulation") {
    val markers = Seq("en" -> "the", "de" -> "der", "es" -> "el", "fr" -> "le", "zh" -> "的")
    val base = docs
      .withColumn("ws", split(lower(col("text")), " "))
      .withColumn("n_tok", size(col("ws")))
      .withColumn("n_rgx",
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))))
    val oldWay = markers.foldLeft(base) { case (df, (code, word)) =>
        df.withColumn(s"c_$code", size(filter(col("ws"), w => w === word)))
      }
      .select(col("doc_id"), col("n_tok"), col("n_rgx"),
        col("c_en"), col("c_de"), col("c_es"), col("c_fr"), col("c_zh"))
      .collect()
      .map(r => r.getLong(0) -> (1 to 7).map(i => r.getInt(i).toLong).toSeq).toMap
    val newWay = docs.select(col("doc_id"), expr("graft_text_counts(text)").as("tc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(newWay === oldWay)
  }

  test("graft_nfc: UAX#15 canonical composition — real unicode, idempotence, ASCII fast path") {
    import spark.implicits._
    val cases = Seq(
      // (input, expected NFC); \u escapes keep de/composed explicit
      // decomposed Latin (e + combining acute U+0301) composes to U+00E9
      ("cafe\u0301", "caf\u00e9"),
      // already-composed stays
      ("caf\u00e9", "caf\u00e9"),
      // Hangul jamo (U+1100 U+1161) compose to the syllable U+AC00
      ("\u1100\u1161", "\uac00"),
      // combining marks reorder canonically (below U+0316 before U+0301)
      ("a\u0301\u0316", "\u00e1\u0316"),
      // compatibility chars do NOT change under NFC (that's NFKC)
      ("\ufb01le", "\ufb01le"),
      ("\uff21b\uff43", "\uff21b\uff43"),
      // 4-byte supplementary chars pass through
      ("a\ud83d\ude00b", "a\ud83d\ude00b"),
      // pure ASCII is the identity fast path
      ("plain ascii text 123", "plain ascii text 123"),
      ("", ""))
    val got = cases.map(_._1).toDF("s")
      .select(expr("graft_nfc(s)").as("n")).as[String].collect().toSeq
    assert(got === cases.map(_._2))
    // idempotence: nfc(nfc(x)) == nfc(x)
    val twice = cases.map(_._1).toDF("s")
      .select(expr("graft_nfc(graft_nfc(s))").as("n")).as[String].collect().toSeq
    assert(twice === cases.map(_._2))
    // and the kernel agrees with java.text.Normalizer directly
    cases.foreach { case (in, want) =>
      assert(java.text.Normalizer.normalize(in, java.text.Normalizer.Form.NFC) === want)
    }
  }

  test("graft_html_text equals the regex chain on adversarial markup (nested/unclosed/interleaved/pseudo tags)") {
    import spark.implicits._
    // The semantic definition, run literally with java.util.regex — the
    // twin of the DuckDB oracle chain (RE2 and Java agree on these
    // ASCII-only patterns). The kernel's hand-rolled scans must match
    // byte-for-byte on every fragment, including shapes the derived
    // q174 corpus can't produce.
    import java.util.regex.Pattern
    val pScript = Pattern.compile("<script[^>]*>.*?</script>",
      Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
    val pStyle = Pattern.compile("<style[^>]*>.*?</style>",
      Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
    val pTag = Pattern.compile("<[^>]*>")
    def refChain(s: String): String = {
      var t = pScript.matcher(s).replaceAll("")
      t = pStyle.matcher(t).replaceAll("")
      t = pTag.matcher(t).replaceAll(" ")
      t = t.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
        .replace("&#39;", "'").replace("&nbsp;", " ").replace("&amp;", "&")
      t = t.replaceAll("[ \t\r\n]+", " ")
      t.replaceAll("\\A | \\z", "")
    }
    val cases = Seq(
      "<html><body><p>plain</p></body></html>",
      "<div><p>nested <b>bold</b> text</p></div>",
      "<p>broken <unclosed and more text",
      "lone < bracket and lone > bracket",
      "<script>var x = 1 < 2;</script>after",
      "<SCRIPT TYPE=\"x\">shouty</SCRIPT>ok",
      "<script>no close at all",
      "<scripty>pseudo tag</scripty>",            // <script[^>]*> matches '<scripty>'
      "orphan </script> close",
      "<style>x<script>y</style>z</script>w",     // pass-order pin
      "<script>a<style>b</script>c</style>d",     // the mirror image
      "<style media='x'>p{}</style>kept",
      "a&amp;lt;b",                               // double-encoding decodes ONE level
      "&lt;tag&gt; &quot;q&quot; &#39;s&#39; x&nbsp;y &amp; z",
      "  \t leading\nand\r\ninternal   runs \t ",
      "<p title=\"a > b\">attr gt</p>",           // first '>' ends the tag
      "<>empty tag<> and <<double",
      "unicode café 一𠮷 <b>样</b>",
      "")
    val got = cases.toDF("s")
      .select(expr("graft_html_text(s)").as("t")).as[String].collect().toSeq
    val want = cases.map(refChain)
    got.zip(want).zip(cases).foreach { case ((g, w), in) =>
      assert(g === w, s"kernel drift on <<$in>>: kernel=<<$g>> chain=<<$w>>")
    }
  }
}
