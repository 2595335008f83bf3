package graft.pipeline

import graft.{QueryModule, Tables}
import graft.functions.PortableHash.{wordHashSql, P}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads + typed
  * metadata, batch feature extraction over partitions.
  *
  * Decode is REAL where the JDK carries a lossless codec:
  * `mm_image_decode`/`mm_image_resize` push payloads through
  * `javax.imageio`'s PNG reader and `mm_wav_decode` through
  * `javax.sound.sampled`'s RIFF/WAVE parser (see [[MediaCodec]]).
  * Payloads are synthesized deterministically from `documents.text`
  * (pixel/sample values are a fixed function of the doc bytes), so a
  * DuckDB oracle can verify the decoded features relationally while
  * the bytes still travel the genuine codec path. Lossy/video codecs
  * stay stubbed as byte statistics (`mm_decode_features`) — their
  * outputs are not bit-deterministic across decoder builds.
  *
  * All decode runs in `mapPartitions` (the Scala analogue of
  * `mapInPandas` batch UDFs: one JVM pass per partition, no per-row
  * dispatch) and media bytes never cross a shuffle — blob to features
  * inside the scan stage, the only shape that survives 100 TB.
  */
object MultimodalQueries extends QueryModule {

  /** The codec oracle equivalences assume ASCII text: Spark measures
    * UTF-8 bytes and UTF-16 chars while the DuckDB oracle counts code
    * points, and the WAV synth `(c - 79) * 256` overflows signed
    * 16-bit PCM for any code point >= 207. The current fixtures are
    * ASCII (code points 32..121); if a fixture ever gains non-ASCII
    * text this throws with the offending doc instead of silently
    * hash-mismatching against the oracle. */
  private def requireAscii(id: Long, text: String): String = {
    var i = 0
    while (i < text.length) {
      if (text.charAt(i) >= 128)
        throw new IllegalArgumentException(
          s"mm_* codec queries require ASCII text; doc $id has code " +
            s"point ${text.charAt(i).toInt} at char $i")
      i += 1
    }
    text
  }

  def queries: Map[String, Q] = Map(
    // binary payload + typed metadata (octet length, content digest) —
    // the storage schema for opaque media blobs
    "mm_binary_meta" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          encode($"text", "UTF-8").as("payload"))
        .select($"doc_id",
          length($"payload").as("n_bytes"),
          md5($"payload").as("digest"))
    },

    // batch "decode"/feature-extract via mapPartitions: byte stats as
    // stand-in features (deterministic stub; see scaladoc)
    "mm_decode_features" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            var sum = 0L
            var fp = 0L
            var i = 0
            while (i < bytes.length) {
              val b = bytes(i) & 0xff
              sum += b
              fp = (fp * 31 + b) % P
              i += 1
            }
            (id, bytes.length, sum.toDouble / bytes.length, fp)
          }
        }
        .toDF("doc_id", "n_bytes", "mean_byte", "byte_fp")
    },

    // audio framing: fixed-length overlapped windows over the sample
    // stream (frame_length=32, hop_length=16 — the spectrogram access
    // pattern; librosa/torchaudio framing semantics: full frames
    // only). Map-side fan-out, zero shuffles, the same shape a real
    // STFT pre-pass needs at corpus scale. Round-15 (guide §4): the
    // per-frame energy was an interpreted sequence→transform→aggregate
    // HOF — 32 substr+ascii lambda evaluations PER FRAME, ~35 µs/frame,
    // the whole projection outside whole-stage codegen. The energies
    // now come from one codegen'd per-document kernel
    // ([[graft.functions.AudioFrameScan]], value-identical by
    // construction: same code-point indexing, same long sums —
    // AudioFrameKernelSpec pins kernel == HOF on edge shapes) and
    // posexplode reproduces the per-frame rows in the same order.
    "mm_audio_frames" -> { (s, d) =>
      import s.implicits._
      val frameLen = 32; val hop = 16
      Tables(s, d, "documents")
        .filter(length($"text") >= frameLen)
        .select($"doc_id", posexplode(expr("graft_audio_energies(text)")))
        .select($"doc_id",
          $"pos".cast("long").as("frame_id"),
          ($"pos".cast("long") * hop + 1).as("sample_start"),
          $"col".as("frame_energy"))
    },

    // frame sampling: stride-16 byte subsampling (the video
    // frame-sample access pattern) + fingerprint of the sampled
    // frames. Round-15 (guide §4): the fingerprint was an interpreted
    // sequence→transform→aggregate HOF — a sampled-char array
    // materialized per document plus an interpreted fold per sampled
    // char, outside whole-stage codegen. It now comes from the
    // single-pass codegen kernel [[graft.functions.FrameSampleScan]]
    // (value-identical by construction: same code-point indexing, same
    // (acc·31+cp) mod P fold — FrameSampleKernelSpec pins kernel ==
    // HOF on the corpus and multi-byte edge docs).
    "mm_frame_sample" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          expr("graft_sampled_fp(text)").as("sampled_fp"),
          (floor((length($"text") - 1) / 16) + 1).cast("long").as("n_frames"))
    },

    // REAL image decode: doc bytes -> 16-wide grayscale PNG -> JDK
    // ImageIO decode -> pixel features, all inside one mapPartitions
    // pass (encode standing in for the blob a crawler would have
    // stored; the decode direction is the production path). PNG
    // grayscale-8 is lossless, so decoded pixels == doc bytes and the
    // oracle can recompute every feature from `text` relationally.
    "mm_image_decode" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id", $"text")
        .filter(length($"text") >= 16)
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val bytes = requireAscii(id, text).getBytes("UTF-8")
            val png = MediaCodec.encodeGrayPng(bytes)
            val (w, h, px) = MediaCodec.decodePng(png)
            var sum = 0L; var fp = 0L; var i = 0
            while (i < px.length) {
              sum += px(i); fp = (fp * 31 + px(i)) % P; i += 1
            }
            (id, w.toLong, h.toLong, sum, fp,
              sum.toDouble / (w.toLong * h))
          }
        }
        .toDF("doc_id", "width", "height", "px_sum", "px_fp", "mean_px")
    },

    // decode + nearest-neighbor 2x downsample (the thumbnail /
    // vision-preprocessing step): resample is explicit index math
    // (out(r,c) = in(2r,2c)) so the oracle can mirror it exactly;
    // the pixels still arrive through the real PNG codec.
    "mm_image_resize" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id", $"text")
        .filter(length($"text") >= 32)
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val bytes = requireAscii(id, text).getBytes("UTF-8")
            val (w, h, px) = MediaCodec.decodePng(MediaCodec.encodeGrayPng(bytes))
            val (rw, rh, rpx) = MediaCodec.downsample2x(w, h, px)
            var sum = 0L; var fp = 0L; var i = 0
            while (i < rpx.length) {
              sum += rpx(i); fp = (fp * 31 + rpx(i)) % P; i += 1
            }
            (id, rw.toLong, rh.toLong, sum, fp)
          }
        }
        .toDF("doc_id", "r_width", "r_height", "r_px_sum", "r_px_fp")
    },

    // REAL audio decode: doc bytes -> signed 16-bit PCM samples
    // ((ascii - 79) * 256) -> RIFF/WAVE container -> JDK AudioSystem
    // decode -> sample features. The decoded format (rate, width,
    // endianness) comes from the WAV header, not assumptions.
    "mm_wav_decode" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id", $"text")
        .filter(length($"text") >= 1)
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val samples = requireAscii(id, text).map(c => (c.toInt - 79) * 256).toArray
            val (rate, back) = MediaCodec.decodeWav(MediaCodec.encodeWav(samples))
            var sum = 0L; var fp = 0L; var amax = 0L; var i = 0
            while (i < back.length) {
              val v = back(i)
              sum += v
              fp = (fp * 31 + (v & 0xffffL)) % P
              if (math.abs(v) > amax) amax = math.abs(v)
              i += 1
            }
            (id, back.length.toLong, rate.toLong, sum, fp, amax)
          }
        }
        .toDF("doc_id", "n_samples", "sample_rate", "samp_sum", "samp_fp", "amp_max")
    }
  )

  def oracle: Map[String, String] = Map(
    "mm_binary_meta" ->
      """SELECT doc_id,
         octet_length(CAST(text AS BLOB)) AS n_bytes,
         md5(text) AS digest
         FROM documents""",

    "mm_decode_features" ->
      s"""SELECT doc_id,
         LENGTH(text) AS n_bytes,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ''), x -> ascii(x))), (a, b) -> a + b) AS DOUBLE)
           / LENGTH(text) AS mean_byte,
         ${wordHashSql("text")} AS byte_fp
         FROM documents""",

    "mm_audio_frames" ->
      """WITH t AS (
           SELECT doc_id, text, LENGTH(text) AS len
           FROM documents WHERE LENGTH(text) >= 32),
         f AS (
           SELECT doc_id, text,
             UNNEST(range(0, (len - 32) // 16 + 1)) AS k
           FROM t)
         SELECT doc_id, k AS frame_id,
           k * 16 + 1 AS sample_start,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(k * 16 + 1, k * 16 + 33),
               i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
             (a, b) -> a + b) AS frame_energy
         FROM f""",

    "mm_frame_sample" ->
      s"""SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, LENGTH(text) + 1, 16), i -> ascii(substr(text, CAST(i AS INT), 1)))),
           (a, b) -> (a * 31 + b) % $P) AS sampled_fp,
         (LENGTH(text) - 1) // 16 + 1 AS n_frames
         FROM documents""",

    // decoded pixels == the doc's leading 16*(len//16) bytes (PNG
    // grayscale-8 is lossless), so every feature recomputes from text
    "mm_image_decode" ->
      s"""WITH t AS (
           SELECT doc_id, substr(text, 1, 16 * (LENGTH(text) // 16)) AS px
           FROM documents WHERE LENGTH(text) >= 16)
         SELECT doc_id,
           CAST(16 AS BIGINT) AS width,
           CAST(LENGTH(px) // 16 AS BIGINT) AS height,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(px, ''), x -> ascii(x))),
             (a, b) -> a + b) AS BIGINT) AS px_sum,
           ${wordHashSql("px")} AS px_fp,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(px, ''), x -> ascii(x))),
             (a, b) -> a + b) AS DOUBLE) / LENGTH(px) AS mean_px
         FROM t""",

    // out(r,c) = in(2r,2c): 1-based source byte = 32*(k//8)+2*(k%8)+1
    "mm_image_resize" ->
      s"""WITH t AS (
           SELECT doc_id, text, LENGTH(text) // 16 AS h
           FROM documents WHERE LENGTH(text) >= 32),
         p AS (
           SELECT doc_id,
             CAST(8 AS BIGINT) AS r_width,
             CAST(h // 2 AS BIGINT) AS r_height,
             list_transform(range(0, (h // 2) * 8),
               k -> ascii(substr(text,
                 CAST((k // 8) * 32 + (k % 8) * 2 + 1 AS INT), 1))) AS rpx
           FROM t)
         SELECT doc_id, r_width, r_height,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), rpx),
             (a, b) -> a + b) AS BIGINT) AS r_px_sum,
           list_reduce(list_prepend(CAST(0 AS BIGINT), rpx),
             (a, b) -> (a * 31 + b) % $P) AS r_px_fp
         FROM p""",

    // sample v = (ascii-79)*256; fp folds the unsigned 16-bit image of
    // v (v+65536 when negative), matching the Spark side's v & 0xffff
    "mm_wav_decode" ->
      s"""SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), x -> (ascii(x) - 79) * 256)),
             (a, b) -> a + b) AS BIGINT) AS samp_sum,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''),
               x -> CASE WHEN ascii(x) < 79 THEN (ascii(x) - 79) * 256 + 65536
                         ELSE (ascii(x) - 79) * 256 END)),
             (a, b) -> (a * 31 + b) % $P) AS samp_fp,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), x -> abs((ascii(x) - 79) * 256))),
             (a, b) -> greatest(a, b)) AS BIGINT) AS amp_max
         FROM documents WHERE LENGTH(text) >= 1"""
  )
}
