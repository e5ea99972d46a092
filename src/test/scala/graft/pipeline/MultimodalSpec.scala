package graft.pipeline

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The multimodal plumbing is real even though the decoder is a stub:
  * these tests pin the executor-side batch shape (iterator-to-iterator,
  * partition-preserving) and the decode formula the q49 oracle replays.
  */
class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  test("decodeStub is deterministic and matches the SQL-expressible formula") {
    val payload = "hello multimodal".getBytes("UTF-8")
    val (w1, h1, f1) = Multimodal.decodeStub(payload)
    val (w2, h2, f2) = Multimodal.decodeStub(payload)
    assert((w1, h1, f1) === (w2, h2, f2))
    // the formula the q49 oracle replays: h1 = first 8 md5 hex chars
    val h = java.lang.Long.parseLong(Multimodal.md5Hex(payload).substring(0, 8), 16)
    assert(w1 === 64 + (h % 193).toInt)
    assert(h1 === 64 + ((h / 193) % 193).toInt)
    assert(f1 === 1 + (h % 7).toInt)
    // dimensions stay in the documented [64, 256] envelope
    assert(w1 >= 64 && w1 < 257 && h1 >= 64 && h1 < 257 && f1 >= 1 && f1 <= 7)
  }

  /** A REAL image of the given size, encoded with the JDK's own writer. */
  private def realImage(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, out), s"JDK has no $format writer")
    out.toByteArray
  }

  test("decodeImage parses REAL PNG and JPEG bytes to their true dimensions") {
    assert(Multimodal.decodeImage(realImage(123, 77, "png")) === Some((123, 77)))
    assert(Multimodal.decodeImage(realImage(64, 256, "jpg")) === Some((64, 256)))
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")) === None)
  }

  test("format-aware decode: real dims for real images, stub for audio and undecodable payloads") {
    val png = realImage(200, 150, "png")
    assert(Multimodal.decode(png, "png") === ((200, 150, 1)))
    assert(Multimodal.decode(png, "PNG") === ((200, 150, 1))) // case-insensitive
    // audio: no JDK codec — deterministic stub
    val wav = "fake audio bytes".getBytes("UTF-8")
    assert(Multimodal.decode(wav, "wav") === Multimodal.decodeStub(wav))
    // image-labeled but not decodable: documented fallback keeps flowing
    assert(Multimodal.decode(wav, "png") === Multimodal.decodeStub(wav))
  }

  test("extractFeatures reports REAL decoded dimensions for real image payloads end-to-end") {
    import spark.implicits._
    val media = Seq(
      Multimodal.Media(1L, realImage(320, 240, "png"), "png"),
      Multimodal.Media(2L, realImage(90, 45, "jpg"), "jpeg"),
      Multimodal.Media(3L, "audio payload".getBytes("UTF-8"), "wav")).toDS()
    val rows = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert((rows(0).width, rows(0).height, rows(0).n_frames) === ((320, 240, 1)))
    assert((rows(1).width, rows(1).height, rows(1).n_frames) === ((90, 45, 1)))
    val (sw, sh, sf) = Multimodal.decodeStub("audio payload".getBytes("UTF-8"))
    assert((rows(2).width, rows(2).height, rows(2).n_frames) === ((sw, sh, sf)))
  }

  test("sampleFrames on a real image: one frame, aspect-preserving resize of true dims") {
    import spark.implicits._
    val media = Seq(Multimodal.Media(7L, realImage(448, 224, "png"), "png")).toDS()
    val frames = Multimodal.sampleFrames(media, 224, 2).collect()
    assert(frames.length === 1)
    assert((frames(0).scaled_w, frames(0).scaled_h) === ((224, 112)))
    assert(frames(0).frame_idx === 1)
  }

  test("resizeStub preserves aspect within bounds and never exceeds the target") {
    // no-op inside bounds
    assert(Multimodal.resizeStub(100, 224, 224) === ((100, 224)))
    // downscale pins the max dimension to the target, floors the other
    assert(Multimodal.resizeStub(256, 128, 224) === ((224, 112)))
    val (w, h) = Multimodal.resizeStub(251, 173, 224)
    assert(w === 224 && h === math.floor(173 * 224.0 / 251).toInt)
    // exhaustive over the decoder's [64, 256] envelope: never exceeds 224
    for (a <- 64 to 256; b <- Seq(64, 131, 224, 256)) {
      val (x, y) = Multimodal.resizeStub(a, b, 224)
      assert(x <= 224 && y <= 224, s"($a,$b) -> ($x,$y)")
    }
  }

  test("sampleFrames expands rows iterator-to-iterator: ceil(n_frames/2) frames per media") {
    import spark.implicits._
    val media = (0L until 60L)
      .map(i => Multimodal.Media(i, s"vid-$i".getBytes("UTF-8"), "wav"))
      .toDS()
      .repartition(5)
    val frames = Multimodal.sampleFrames(media, 224, 2)
    assert(frames.rdd.getNumPartitions === 5) // narrow: no shuffle
    val byDoc = frames.collect().groupBy(_.doc_id)
    assert(byDoc.keySet === (0L until 60L).toSet)
    byDoc.foreach { case (id, fs) =>
      val (_, _, n) = Multimodal.decodeStub(s"vid-$id".getBytes("UTF-8"))
      assert(fs.length === (n + 1) / 2, s"doc $id: n_frames=$n")
      // sampled indices are 1, 3, 5, ... and hashes are deterministic
      assert(fs.map(_.frame_idx).sorted.toSeq === (1 to n by 2).toSeq)
      fs.foreach(f => assert(f.frame_hash ===
        Multimodal.frameHash(s"vid-$id".getBytes("UTF-8"), f.frame_idx)))
    }
  }

  test("extractFeatures is partition-preserving and row-complete") {
    import spark.implicits._
    val media = (0L until 100L)
      .map(i => Multimodal.Media(i, s"payload-$i".getBytes("UTF-8"), if (i % 2 == 0) "png" else "wav"))
      .toDS()
      .repartition(7)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.rdd.getNumPartitions === 7) // narrow transform: no shuffle
    val rows = feats.collect()
    assert(rows.length === 100)
    assert(rows.map(_.doc_id).toSet === (0L until 100L).toSet)
    assert(rows.forall(f => f.byte_len > 0 && f.width >= 64))
    assert(feats.columns.toSeq ===
      Seq("doc_id", "format", "byte_len", "width", "height", "n_frames"))
  }

  test("decodeAudioInfo parses REAL WAV bytes: rate, channels, bits, frame count (round 17)") {
    val samples = Array.tabulate(1234)(i => (i * 37) % 4001 - 2000)
    val wav = Multimodal.wavBytes(samples, 8000)
    assert(Multimodal.decodeAudioInfo(wav) ===
      Some(Multimodal.AudioInfo(8000, 1, 16, 1234L)))
    assert(Multimodal.decodeAudioInfo("not audio".getBytes("UTF-8")) === None)
    // an image is not audio: the parser rejects, never mislabels
    assert(Multimodal.decodeAudioInfo(realImage(8, 8, "png")) === None)
  }

  test("decodePcm16 round-trips every sample losslessly through the RIFF container") {
    val samples = Array.tabulate(1000)(i => ((i * 7919 + 31) % 65536) - 32768)
    val decoded = Multimodal.decodePcm16(Multimodal.wavBytes(samples, 16000))
    assert(decoded.isDefined)
    assert(decoded.get.toSeq === samples.toSeq) // full 16-bit range, exact
    assert(Multimodal.decodePcm16("junk".getBytes("UTF-8")) === None)
  }

  test("isqrt is the exact floor integer sqrt at and around perfect squares") {
    for (x <- Seq(0L, 1L, 2L, 3L, 4L, 15L, 16L, 17L, 999999L, 1000000L, 1000001L,
        4000000L, (1L << 40) - 1, 1L << 40)) {
      val r = Multimodal.isqrt(x)
      assert(r * r <= x && (r + 1) * (r + 1) > x, s"isqrt($x) = $r")
    }
  }

  test("audioWindows: real WAV decode -> fixed windows -> exact integer RMS, zero rows for undecodable") {
    import spark.implicits._
    // doc 1: constant amplitude 100 -> rms exactly 100 in every window;
    // doc 2: 250 samples = 2 full + 1 partial window; doc 3: not audio.
    val m1 = Multimodal.Media(1L, Multimodal.wavBytes(Array.fill(800)(100), 8000), "wav")
    val m2 = Multimodal.Media(2L, Multimodal.wavBytes(Array.tabulate(250)(i => i - 125), 8000), "wav")
    val m3 = Multimodal.Media(3L, "definitely not a wav".getBytes("UTF-8"), "wav")
    val out = Multimodal.audioWindows(Seq(m1, m2, m3).toDS(), 100)
      .collect().sortBy(w => (w.doc_id, w.window_idx))
    val d1 = out.filter(_.doc_id == 1L)
    assert(d1.length === 8 && d1.forall(w => w.n_samples == 100 && w.rms == 100L))
    val d2 = out.filter(_.doc_id == 2L)
    assert(d2.length === 3)
    assert(d2.map(_.n_samples).toSeq === Seq(100, 100, 50))
    // exact check of one window against plain-Scala arithmetic
    val w0 = (0 until 100).map(i => (i - 125).toLong).map(v => v * v).sum
    assert(d2(0).sum_sq === w0 && d2(0).rms === Multimodal.isqrt(w0 / 100))
    assert(out.count(_.doc_id == 3L) === 0) // keep-flowing: no rows, no crash
  }

  test("binaryFile ingestion: real image files on disk -> binary scan -> REAL decoded dimensions") {
    // How a 100 TB multimodal corpus actually lands: raw files in object
    // storage, read with Spark's binaryFile source (path + content + length,
    // no decode on the scan), format derived from the extension, features
    // extracted executor-side. Pins the disk->DataFrame->decode seam that
    // q49/q60 exercise from parquet-borne payloads.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-media").toFile
    try {
      val dims = Seq(("a.png", 123, 77, "png"), ("b.jpg", 64, 99, "jpg"), ("c.png", 200, 150, "png"))
      dims.foreach { case (name, w, h, fmt) =>
        val writeFmt = if (fmt == "jpg") "jpg" else "png"
        java.nio.file.Files.write(
          new java.io.File(dir, name).toPath, realImage(w, h, writeFmt))
      }
      val media = spark.read.format("binaryFile").load(dir.getAbsolutePath)
        .select(
          abs(xxhash64(col("path"))).as("doc_id"),
          element_at(split(col("path"), "\\."), -1).as("format"),
          col("content").as("payload"),
          element_at(split(col("path"), "/"), -1).as("file"))
      val feats = Multimodal.extractFeaturesDf(media.select(col("doc_id"), col("payload"), col("format")))
        .join(media.select(col("doc_id"), col("file")), "doc_id")
        .select(col("file"), col("width"), col("height"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
      assert(feats === Seq(("a.png", 123, 77), ("b.jpg", 64, 99), ("c.png", 200, 150)),
        s"real dimensions must survive the binaryFile path: $feats")
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
