package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with SparkSpec {

  test("ImageIoCodec: gray PNG round trip is bit-exact; header probe matches decode") {
    val w = 9; val h = 7
    val png = Multimodal.ImageIoCodec.encodeGrayPng(w, h, k => (k * 13 + 5) % 256)
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    assert(Multimodal.ImageIoCodec.dimensions(png).contains((w, h)))
    val img = Multimodal.ImageIoCodec.decode(png).get
    assert(img.getWidth == w && img.getHeight == h)
    val expect = (0 until w * h).map(k => (k * 13 + 5) % 256).sum.toLong
    assert(Multimodal.ImageIoCodec.sumSamples(img) == ((expect, (w * h).toLong)))
  }

  test("ImageIoCodec: corrupt / empty / non-image bytes degrade to None, never throw") {
    val codec = Multimodal.ImageIoCodec
    assert(codec.dimensions(null) == None)
    assert(codec.dimensions(Array.emptyByteArray) == None)
    assert(codec.dimensions("not an image at all".getBytes) == None)
    assert(codec.decode("junk".getBytes) == None)
    // a PNG header with a truncated body must not crash either path
    val png = codec.encodeGrayPng(5, 5, _ => 128)
    assert(codec.decode(png.take(12)) == None)
  }

  test("imageFeatures: real decode through the batch stage, corrupt rows flagged ok=false") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.ImageIoCodec.encodeGrayPng(4, 3, k => k % 256)),
      (2L, "garbage".getBytes),
      (3L, Multimodal.ImageIoCodec.encodeGrayPng(2, 2, _ => 255)))
      .toDF("id", "media")
    val out = Multimodal.imageFeatures(rows, "id", "media", batchSize = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(1L) == ((true, 4, 3, 12L, (0 until 12).sum.toLong)))
    assert(out(2L) == ((false, 0, 0, 0L, 0L)))
    assert(out(3L) == ((true, 2, 2, 4L, 4L * 255)))
  }

  test("imageResize: output is a decodable PNG with the target dims; corrupt → null") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.ImageIoCodec.encodeGrayPng(16, 10, k => k % 256)),
      (2L, "nope".getBytes))
      .toDF("id", "media")
    val out = Multimodal.imageResize(rows, "id", "media", 8, 5)
      .collect().map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]](1))).toMap
    assert(Multimodal.ImageIoCodec.dimensions(out(1L).get).contains((8, 5)))
    assert(out(2L).isEmpty)
  }

  test("WavCodec: PCM-16 round trip is bit-exact; header probe matches decode") {
    val samples = Array.tabulate(100)(k => ((k * 37) % 2048) - 1024)
    val wav = Multimodal.WavCodec.encodePcm16(16000, 2, 50, samples(_))
    // header-only probe — no sample decode
    val info = Multimodal.WavCodec.info(wav)
    assert(info.contains(Multimodal.WavCodec.WavInfo(16000, 2, 50L)))
    // full decode recovers the exact integer sum in interleaved order
    val (dInfo, sum, n) = Multimodal.WavCodec.sumSamples(wav).get
    assert(dInfo == info.get)
    assert(n == 100L)
    assert(sum == samples.map(_.toLong).sum)
  }

  test("WavCodec: corrupt / empty / non-audio bytes degrade to None, never throw") {
    for (bad <- Seq(null, Array.empty[Byte], "not a wav at all".getBytes,
        Multimodal.ImageIoCodec.encodeGrayPng(4, 4, identity))) {
      assert(Multimodal.WavCodec.info(bad).isEmpty)
      assert(Multimodal.WavCodec.sumSamples(bad).isEmpty)
    }
    // a truncated-but-valid-header WAV must not throw either
    val wav = Multimodal.WavCodec.encodePcm16(8000, 1, 10, _ => 7)
    val truncated = wav.take(wav.length - 5)
    Multimodal.WavCodec.sumSamples(truncated) // any Option is fine; no exception

    // a crafted RIFF header declaring sample rate 0 parses through
    // javax.sound but must degrade to None, never reach the
    // duration division (RIFF fmt sample rate = LE uint32 @ offset 24)
    val zeroRate = wav.clone()
    for (i <- 24 until 28) zeroRate(i) = 0
    assert(Multimodal.WavCodec.info(zeroRate).isEmpty)
    assert(Multimodal.WavCodec.sumSamples(zeroRate).isEmpty)
  }

  test("RiffAvi: container round trip is byte-exact; corrupt inputs degrade to None") {
    val f0 = Array[Byte](1, 2, 3, 4, 5) // odd length exercises RIFF padding
    val f1 = Array[Byte](9, 8, 7, 6)
    val avi = RiffAvi.encode(Seq(f0, f1), 4, 3)
    val back = RiffAvi.frames(avi).get
    assert(back.size == 2)
    assert(back(0).toSeq == f0.toSeq && back(1).toSeq == f1.toSeq)

    for (bad <- Seq(null, Array.empty[Byte], "not an avi".getBytes,
        Multimodal.ImageIoCodec.encodeGrayPng(4, 4, identity),
        Multimodal.WavCodec.encodePcm16(8000, 1, 4, _ => 1))) // RIFF but WAVE, no movi
      assert(RiffAvi.frames(bad).isEmpty)
    // truncated mid-chunk: the walk stops cleanly with the frames it has
    val truncated = RiffAvi.frames(avi.take(avi.length - 3))
    assert(truncated.forall(_.size <= 2))
  }

  test("videoFeatures / videoFrameSample: real frame decode, stride sampling, corrupt rows flagged") {
    import spark.implicits._
    def png(id: Long, j: Int) =
      Multimodal.ImageIoCodec.encodeGrayPng(5, 4, k => ((id * 13 + j * 31 + k) % 256).toInt)
    val rows = Seq(
      (1L, RiffAvi.encode((0 until 3).map(j => png(1L, j)), 5, 4)),
      (2L, RiffAvi.encode(Seq(png(2L, 0)), 5, 4)),
      (3L, "corrupt container".getBytes))
      .toDF("id", "media")
    val out = Multimodal.videoFeatures(rows, "id", "media", batchSize = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(1) && out(1L).getInt(2) == 3)
    assert(out(1L).getInt(3) == 5 && out(1L).getInt(4) == 4)
    assert(out(1L).getLong(5) == 60L)
    assert(out(1L).getLong(6) ==
      (for (j <- 0 until 3; k <- 0 until 20) yield (1L * 13 + j * 31 + k) % 256).sum)
    assert(out(2L).getBoolean(1) && out(2L).getInt(2) == 1)
    assert(!out(3L).getBoolean(1) && out(3L).getLong(6) == 0L)

    // stride sampling walks the container only: frames 0 and 2 of 3
    val sampled = Multimodal.videoFrameSample(rows, "id", "media", everyK = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(sampled.toSeq == Seq((1L, 0), (1L, 2), (2L, 0)))
  }

  test("audioFeatures: real decode through the batch stage, corrupt rows flagged ok=false") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.WavCodec.encodePcm16(8000, 1, 40, k => k - 20)),
      (2L, Multimodal.WavCodec.encodePcm16(24000, 2, 60, k => 100 - k)),
      (3L, "corrupt payload".getBytes))
      .toDF("id", "media")
    val out = Multimodal.audioFeatures(rows, "id", "media", batchSize = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(1) && out(1L).getInt(2) == 8000 && out(1L).getInt(3) == 1)
    assert(out(1L).getLong(4) == 40L && out(1L).getLong(5) == 40L)
    assert(out(1L).getLong(6) == (0 until 40).map(_ - 20).sum.toLong)
    assert(out(1L).getLong(7) == 5L) // 40 frames / 8000 Hz = 5 ms
    assert(out(2L).getBoolean(1) && out(2L).getInt(2) == 24000 && out(2L).getInt(3) == 2)
    assert(out(2L).getLong(4) == 60L && out(2L).getLong(5) == 120L)
    assert(out(2L).getLong(6) == (0 until 120).map(100 - _).sum.toLong)
    assert(!out(3L).getBoolean(1) && out(3L).getLong(6) == 0L)
  }
}
