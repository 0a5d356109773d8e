package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media object: payload as an opaque binary column + typed
  * metadata — the columnar layout for multimodal corpora (images,
  * audio, video frame stacks) in a training-data pipeline. The
  * payload is a REAL encoded file ([[Codecs]]: 24-bit BMP, PCM16
  * WAV, concatenated-BMP stack), not a synthetic blob. */
case class MediaRecord(
    media_id: Long,
    kind: String,           // "image" | "audio" | "video"
    bytes: Array[Byte],
    format: String,         // "bmp" | "wav" | "bmps" (BMP stack)
    width: Int, height: Int, // claimed metadata; 0 when not applicable
    duration_ms: Long)       // 0 for stills

/** Header-parse surface: container metadata recovered from the
  * payload itself, plus `meta_ok` cross-checking the claimed columns
  * against the parsed header — the shard-QA gate that catches
  * metadata drift before a corrupt batch trains. */
case class MediaDecode(
    media_id: Long, kind: String, format: String, n_bytes: Long,
    width: Long, height: Long, n_frames: Long,
    sample_rate: Long, n_samples: Long, meta_ok: Long)

/** Integer-exact image features from DECODED pixels (not raw payload
  * bytes): per-channel sums and mean luma in milli-units
  * (299R+587G+114B per pixel — the integer Rec.601 weights). */
case class ImageStats(
    media_id: Long, width: Long, height: Long, n_px: Long,
    sum_r: Long, sum_g: Long, sum_b: Long, mean_luma_milli: Long)

/** Integer-exact audio features from decoded PCM samples: sum,
  * absolute sum, energy (Σs²), peak amplitude, zero crossings. */
case class AudioStats(
    media_id: Long, sample_rate: Long, n_samples: Long,
    sum_s: Long, sum_abs: Long, energy: Long, peak_abs: Long,
    zero_cross: Long)

/** Per-frame image features for video stacks — one row per frame,
  * produced by direct frame seek (offset arithmetic), not a scan. */
case class FrameStats(
    media_id: Long, frame_idx: Long, width: Long, height: Long,
    sum_r: Long, sum_g: Long, sum_b: Long)

/** Multimodal column tier (additive — the reference has no media
  * path; BASELINE.json north star).
  *
  * Real decode, pure JVM: payloads are genuine BMP / WAV / BMP-stack
  * files built and parsed by [[Codecs]] — header validation, stride
  * and padding handling, RIFF chunk walking, bottom-up row flip.
  * Decode runs as `mapPartitions` over a typed Dataset (one decoder
  * scope per partition — the Scala-native analogue of `mapInPandas`
  * batches), emits integer-exact features, and every `q_media_*`
  * query is oracle-checked in DuckDB by re-deriving the SAME numbers
  * from the payload bytes with fixed-offset hex arithmetic.
  *
  * Scale notes: payloads ride the parquet scan like any column
  * (binary pages are only read when the decode stage projects them —
  * column pruning applies to blobs); decode is pure map-side work, no
  * shuffle; frame extraction multiplies rows BEFORE per-frame feature
  * work so the expensive stage parallelizes across frames, not
  * videos; malformed payloads throw (fail-loud) rather than emitting
  * garbage features.
  */
object Multimodal {

  // ---- deterministic real-format corpus ----

  private def imagePixels(seed: Long, w: Int, h: Int, f: Int): Array[Int] =
    Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      val r = ((seed * 31 + f * 41 + x * 7 + y * 13) % 256).toInt
      val g = ((seed * 17 + f * 59 + x * 3 + y * 29) % 256).toInt
      val b = ((seed * 23 + f * 71 + x * 11 + y * 5) % 256).toInt
      (r << 16) | (g << 8) | b
    }

  /** Deterministic corpus of REAL encoded media: every third record an
    * image (BMP, dims varied so row padding 0-3 bytes is exercised),
    * audio (WAV PCM16 mono), and a video (2-4 equal-shape BMP frames
    * concatenated). Seeded arithmetic only — bit-identical across
    * runs, so fixtures regenerate stably for the cross-engine oracle. */
  def syntheticCorpus(spark: SparkSession, n: Int): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      (i % 3) match {
        case 0 =>
          val w = 8 + (i * 7 % 13).toInt  // 8..20 → strides with padding
          val h = 8 + (i * 5 % 11).toInt  // 8..18
          val img = Codecs.Image(w, h, imagePixels(i, w, h, 0))
          MediaRecord(i, "image", Codecs.encodeBmp24(img), "bmp", w, h, 0L)
        case 1 =>
          val ns = 200 + (i * 37 % 300).toInt
          val samples = Array.tabulate(ns) { t =>
            ((((i * 131 + t * 97) % 4001) - 2000) * 8).toShort
          }
          val wav = Codecs.encodeWavPcm16(Codecs.Audio(8000, samples))
          MediaRecord(i, "audio", wav, "wav", 0, 0, ns * 1000L / 8000)
        case _ =>
          val nf = 2 + (i % 3).toInt      // 2..4 frames
          val side = 8 + (i % 5).toInt
          val stack = (0 until nf).toArray.flatMap { f =>
            Codecs.encodeBmp24(
              Codecs.Image(side, side, imagePixels(i, side, side, f)))
          }
          MediaRecord(i, "video", stack, "bmps", side, side, nf * 1000L)
      }
    }
  }

  /** Materialize the corpus as parquet at `path` and read it back —
    * both engines consume the same file, so the comparison checks the
    * decode math, not corpus generation (the registry's fixture lives
    * at `QueryHelpers.mediaCorpusPath`). */
  def corpusParquet(spark: SparkSession, n: Int,
                    path: String): Dataset[MediaRecord] = {
    import spark.implicits._
    syntheticCorpus(spark, n).coalesce(1)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).as[MediaRecord]
  }

  // ---- compressed tier (PNG via the JDK's ImageIO) ----

  /** Deterministic dual-encoding fixture: the SAME pixels as both a
    * real PNG (lossless, via ImageIO) and a 24-bit BMP (our codec).
    * DuckDB cannot inflate PNG, so the cross-engine check goes through
    * the BMP bridge: Spark decodes the PNG and re-encodes BMP24; the
    * oracle reads the independently-encoded BMP column. Byte equality
    * proves the PNG decode exact. */
  def pngCorpusParquet(spark: SparkSession, n: Int,
                       path: String): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val w = 8 + (i * 7 % 13).toInt
      val h = 8 + (i * 5 % 11).toInt
      val img = Codecs.Image(w, h, imagePixels(i * 7919 + 3, w, h, 0))
      (i, Codecs.encodePng(img), Codecs.encodeBmp24(img), w, h)
    }.toDF("media_id", "png_bytes", "bmp_bytes", "width", "height")
      .coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** The compressed-decode stage under cross-engine test: inflate the
    * PNG payload, re-encode as BMP24, emit the hex of the result —
    * compared byte-for-byte against the fixture's independent BMP
    * encoding by the DuckDB oracle. Map-side only, like every decode
    * stage. */
  def pngToBmpHex(pngs: DataFrame): DataFrame = {
    import pngs.sparkSession.implicits._
    pngs.select(col("media_id"), col("png_bytes")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, png) =>
          (id, Codecs.encodeBmp24(Codecs.decodeCompressed(png)))
        }
      }.toDF("media_id", "bmp")
      .select(col("media_id"), hex(col("bmp")).as("bmp_hex"))
  }

  // ---- decode stages (map-side, per-partition batches) ----

  /** Parse every payload's container header and cross-check the
    * claimed metadata columns — the whole-corpus QA pass. */
  def decodeHeaders(media: Dataset[MediaRecord]): Dataset[MediaDecode] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        r.kind match {
          case "image" =>
            val img = Codecs.decodeBmp24(r.bytes)
            MediaDecode(r.media_id, r.kind, r.format, r.bytes.length.toLong,
              img.width.toLong, img.height.toLong, 1L, 0L, 0L,
              if (img.width == r.width && img.height == r.height) 1L else 0L)
          case "audio" =>
            val a = Codecs.decodeWavPcm16(r.bytes)
            MediaDecode(r.media_id, r.kind, r.format, r.bytes.length.toLong,
              0L, 0L, 0L, a.sampleRate.toLong, a.samples.length.toLong,
              if (r.width == 0 && r.height == 0) 1L else 0L)
          case _ =>
            val frames = Codecs.decodeBmpStack(r.bytes)
            val f0 = frames.head
            MediaDecode(r.media_id, r.kind, r.format, r.bytes.length.toLong,
              f0.width.toLong, f0.height.toLong, frames.length.toLong, 0L, 0L,
              if (f0.width == r.width && f0.height == r.height) 1L else 0L)
        }
      }
    }
  }

  private def imageStatsOf(id: Long, img: Codecs.Image): ImageStats = {
    var sr = 0L; var sg = 0L; var sb = 0L
    img.pixels.foreach { p =>
      sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
    }
    val nPx = img.pixels.length.toLong
    ImageStats(id, img.width.toLong, img.height.toLong, nPx, sr, sg, sb,
      (299L * sr + 587L * sg + 114L * sb) / nPx)
  }

  /** Decode still images and emit integer pixel statistics. */
  def imageStats(media: Dataset[MediaRecord]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions { it =>
      it.map(r => imageStatsOf(r.media_id, Codecs.decodeBmp24(r.bytes)))
    }
  }

  /** Decode audio and emit integer PCM statistics. */
  def audioStats(media: Dataset[MediaRecord]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").mapPartitions { it =>
      it.map { r =>
        val a = Codecs.decodeWavPcm16(r.bytes)
        var sum = 0L; var sabs = 0L; var energy = 0L; var peak = 0L
        var zc = 0L; var prevNonNeg = true; var i = 0
        while (i < a.samples.length) {
          val s = a.samples(i).toLong
          sum += s; sabs += math.abs(s); energy += s * s
          peak = math.max(peak, math.abs(s))
          val nonNeg = s >= 0
          if (i > 0 && nonNeg != prevNonNeg) zc += 1
          prevNonNeg = nonNeg
          i += 1
        }
        AudioStats(r.media_id, a.sampleRate.toLong,
          a.samples.length.toLong, sum, sabs, energy, peak, zc)
      }
    }
  }

  /** Explode video stacks into per-frame rows with decoded pixel
    * statistics — rows multiply BEFORE the per-frame work, so frames
    * parallelize across the cluster. */
  def frameStats(media: Dataset[MediaRecord]): Dataset[FrameStats] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      Codecs.decodeBmpStack(r.bytes).zipWithIndex.map { case (img, f) =>
        val s = imageStatsOf(r.media_id, img)
        FrameStats(r.media_id, f.toLong, s.width, s.height,
          s.sum_r, s.sum_g, s.sum_b)
      }
    }
  }

  /** Decode → nearest-neighbor resize to `side`×`side` → re-encode:
    * the real thumbnail stage (binary in, binary out, metadata
    * updated), map-side only. */
  def resizeImages(media: Dataset[MediaRecord],
                   side: Int): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").mapPartitions { it =>
      it.map { r =>
        val resized = Codecs.resizeNearest(Codecs.decodeBmp24(r.bytes), side)
        r.copy(bytes = Codecs.encodeBmp24(resized),
               width = side, height = side)
      }
    }
  }

  /** Deterministic frame sampling: one row per frame at `everyNth`
    * stride, the frame payload cut out by offset arithmetic (frame k
    * lives at [k·frameSize, (k+1)·frameSize) — seek, not scan). */
  def sampleFrames(media: Dataset[MediaRecord],
                   everyNth: Int): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { r =>
      // Frame size comes from the PARSED first-frame header, not the
      // claimed width/height metadata columns — drifted metadata would
      // otherwise slice misaligned byte ranges and surface far from the
      // cause as a bad-magic error downstream.
      val (_, frameSize) = Codecs.decodeBmp24At(r.bytes, 0)
      require(frameSize > 0 && r.bytes.length % frameSize == 0,
        s"media ${r.media_id}: payload ${r.bytes.length} not a whole " +
          s"number of $frameSize-byte frames")
      val nFrames = r.bytes.length / frameSize
      (0 until nFrames by everyNth).map { f =>
        r.copy(kind = "image", format = "bmp",
          bytes = java.util.Arrays.copyOfRange(
            r.bytes, f * frameSize, (f + 1) * frameSize),
          duration_ms = 0L)
      }
    }
  }
}
