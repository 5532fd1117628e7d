package graft.queries

import graft.operators.{Multimodal, RiffAvi}

/** Multimodal family: image, audio and video feature extraction, each
  * over media encoded from the documents' ids and decoded back through
  * the real codec.
  */
object MultimodalLanes {

  val lanes: Seq[Lane] = Seq(
    // REAL image decode (JDK ImageIO): per document a
    // deterministic 8-bit gray PNG is encoded (dims and pixels pure
    // functions of doc_id), then decoded back through the real codec
    // and feature-extracted. PNG gray is lossless, so width/height and
    // the exact integer luminance sum are recomputable arithmetically
    // by the oracle — the encode→decode→extract loop is what's tested.
    Lane("image_features_documents", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val pngs = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id").as[Long]
        .map { id =>
          val w = 4 + (id % 13).toInt
          val h = 3 + ((id * 7) % 11).toInt
          (id, Multimodal.ImageIoCodec.encodeGrayPng(w, h, k => ((id * 31 + k) % 256).toInt))
        }
        .toDF("doc_id", "media")
      Multimodal.imageFeatures(pngs, "doc_id", "media")
        .filter(col("ok"))
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("n_samples"), col("sum_luma"))
    },
      // the gray-PNG fixture is pure arithmetic in doc_id: dims from the
      // same formulas, luminance sum = sum over row-major pixel index k of
      // (doc_id*31 + k) mod 256 — exact because PNG gray is lossless.
      // Max dims are 16x13 = 208 px, so a constant range cross-join
      // (DuckDB's range() can't take lateral parameters) covers every k.
      """WITH g AS (
        |  SELECT doc_id,
        |         CAST(4 + doc_id % 13 AS INTEGER) AS width,
        |         CAST(3 + (doc_id * 7) % 11 AS INTEGER) AS height
        |  FROM documents)
        |SELECT g.doc_id, g.width, g.height,
        |       CAST(g.width * g.height AS BIGINT) AS n_samples,
        |       CAST(sum((g.doc_id * 31 + t.k) % 256) AS BIGINT) AS sum_luma
        |FROM g, range(0, 208) t(k)
        |WHERE t.k < g.width * g.height
        |GROUP BY g.doc_id, g.width, g.height""".stripMargin),
    // REAL WAV decode (JDK javax.sound.sampled): per document
    // a deterministic PCM-16 WAV is encoded (rate/channels/frames and
    // every sample pure functions of doc_id), then decoded back through
    // the real codec and feature-extracted. WAV PCM is lossless, so the
    // format fields, the exact integer amplitude sum, and the integer
    // duration are recomputable arithmetically by the oracle — the
    // encode→decode→extract loop is what's tested.
    Lane("audio_features_documents", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val wavs = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id").as[Long]
        .map { id =>
          val rate = 8000 * (1 + (id % 3).toInt)
          val ch = 1 + (id % 2).toInt
          val frames = 40 + (id % 25).toInt
          (id, Multimodal.WavCodec.encodePcm16(rate, ch, frames,
            k => (((id * 17 + k * 13) % 2048) - 1024).toInt))
        }
        .toDF("doc_id", "media")
      Multimodal.audioFeatures(wavs, "doc_id", "media")
        .filter(col("ok"))
        .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("n_samples"), col("sum_amplitude"), col("duration_ms"))
    },
      // the PCM-16 fixture is pure arithmetic in doc_id: format fields
      // from the same formulas, amplitude sum = sum over interleaved
      // sample index k of ((doc_id*17 + k*13) mod 2048) - 1024 — exact
      // because WAV PCM is lossless. Max samples are 64 frames × 2
      // channels = 128, so a constant range cross-join covers every k;
      // duration is integer millisecond arithmetic on both sides.
      """WITH g AS (
        |  SELECT doc_id,
        |         CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate,
        |         CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |         CAST(40 + doc_id % 25 AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT g.doc_id, g.sample_rate, g.channels, g.n_frames,
        |       CAST(g.n_frames * g.channels AS BIGINT) AS n_samples,
        |       CAST(sum((g.doc_id * 17 + t.k * 13) % 2048 - 1024) AS BIGINT) AS sum_amplitude,
        |       CAST(g.n_frames * 1000 // g.sample_rate AS BIGINT) AS duration_ms
        |FROM g, range(0, 128) t(k)
        |WHERE t.k < g.n_frames * g.channels
        |GROUP BY g.doc_id, g.sample_rate, g.channels, g.n_frames""".stripMargin),
    // REAL video decode (RIFF/AVI container walk + per-frame JDK image
    // decode): per document a deterministic AVI is encoded
    // (frame count/dims and every pixel pure functions of doc_id and
    // the frame index, frames stored as lossless gray PNGs per the
    // container's one-image-per-00dc convention), then the container is
    // walked back, every frame decoded, and the features extracted —
    // all recomputable arithmetically by the oracle.
    Lane("video_features_documents", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val avis = s.read.parquet(s"$d/documents.parquet")
        .select("doc_id").as[Long]
        .map { id =>
          val w = 4 + (id % 6).toInt
          val h = 3 + (id % 5).toInt
          val nf = 1 + (id % 3).toInt
          val frames = (0 until nf).map(j =>
            Multimodal.ImageIoCodec.encodeGrayPng(w, h,
              k => ((id * 13 + j * 31 + k) % 256).toInt))
          (id, RiffAvi.encode(frames, w, h))
        }
        .toDF("doc_id", "media")
      Multimodal.videoFeatures(avis, "doc_id", "media")
        .filter(col("ok"))
        .select(col("id").as("doc_id"), col("n_frames"), col("width"),
          col("height"), col("n_samples"), col("sum_luma"))
    },
      // the AVI fixture is pure arithmetic in (doc_id, frame j, pixel k):
      // dims/frame-count from the same formulas, luminance sum =
      // sum over j < n_frames, k < width*height of
      // (doc_id*13 + j*31 + k) mod 256 — exact because the frames are
      // lossless gray PNGs. Max 3 frames × 63 px, so constant range
      // cross-joins cover every (j, k).
      """WITH g AS (
        |  SELECT doc_id,
        |         CAST(1 + doc_id % 3 AS INTEGER) AS n_frames,
        |         CAST(4 + doc_id % 6 AS INTEGER) AS width,
        |         CAST(3 + doc_id % 5 AS INTEGER) AS height
        |  FROM documents)
        |SELECT g.doc_id, g.n_frames, g.width, g.height,
        |       CAST(g.n_frames * g.width * g.height AS BIGINT) AS n_samples,
        |       CAST(sum((g.doc_id * 13 + f.j * 31 + t.k) % 256) AS BIGINT) AS sum_luma
        |FROM g, range(0, 3) f(j), range(0, 63) t(k)
        |WHERE f.j < g.n_frames AND t.k < g.width * g.height
        |GROUP BY g.doc_id, g.n_frames, g.width, g.height""".stripMargin),
  )
}
