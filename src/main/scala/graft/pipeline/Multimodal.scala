package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed per-partition.
  *
  * Image decode/resize are REAL for the formats the JDK's `javax.imageio`
  * registry ships (PNG, BMP, JPEG, GIF, WBMP — pure JVM, no external
  * deps): true pixel dimensions out of `decodeImages`, true rescale +
  * PNG re-encode in `resizeImages`. Payloads no installed reader
  * recognizes (synthetic test media, audio/video containers) fall back
  * to the clearly-marked deterministic STUB so the plumbing — schema,
  * Dataset[T] encoder, mapPartitions batch shape — stays exercised end-to-end either way.
  *
  * Scale notes: decode is per-partition (one codec init per partition,
  * not per row), zero shuffle.
  */
object Multimodal {

  case class MediaRow(id: Long, modality: String, data: Array[Byte])
  case class ImageMeta(id: Long, byteLen: Int, width: Int, height: Int,
                       channels: Int, decoded: Boolean, checksum: Long)

  /** Real image decode via the JDK's ImageIO registry: returns true
    * (width, height, channels) for any format an installed reader
    * recognizes; None otherwise. Header+pixel decode, pure JVM. */
  def decodeImageReal(bytes: Array[Byte]): Option[(Int, Int, Int)] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else Some((img.getWidth, img.getHeight,
        img.getColorModel.getNumComponents))
    } catch { case _: Throwable => None }

  /** STUB decoder — deterministic fake for payloads with no real codec
    * (synthetic test media; audio/video containers the JDK lacks). */
  def decodeImageStub(bytes: Array[Byte]): (Int, Int, Int) = {
    val n = bytes.length
    val first = if (n > 0) bytes(0) & 0xff else 0
    // fake: dims derived from payload size (deterministic test double)
    (64 + (n % 512), 64 + (first * 4) % 512, 3)
  }

  private def checksum(bytes: Array[Byte]): Long =
    bytes.foldLeft(1125899906842597L)((h, b) => 31 * h + b)

  /** Decode a binary media column into typed metadata, per-partition.
    * `decoded` records whether a real codec produced the dimensions
    * (true) or the stub test double did (false). */
  def decodeImages(ds: Dataset[MediaRow]): Dataset[ImageMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition init (codec contexts, buffers) happens once here
      it.map { row =>
        decodeImageReal(row.data) match {
          case Some((w, h, ch)) =>
            ImageMeta(row.id, row.data.length, w, h, ch, decoded = true,
              checksum(row.data))
          case None =>
            val (w, h, ch) = decodeImageStub(row.data)
            ImageMeta(row.id, row.data.length, w, h, ch, decoded = false,
              checksum(row.data))
        }
      }
    }
  }

  case class AudioMeta(id: Long, byteLen: Int, sampleRate: Int,
                       channels: Int, bitsPerSample: Int, nFrames: Long,
                       durationMs: Double, decoded: Boolean)

  /** Real WAV (RIFF/WAVE) header parse — pure JVM, no deps: sample
    * rate, channels, bit depth and frame count from the fmt/data
    * chunks. Returns None for non-RIFF payloads. */
  def decodeWavReal(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def le16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def le32(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
      b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' ||
      b(11) != 'E') return None
    // walk chunks: fmt_ then data (chunks are word-aligned)
    var off = 12
    var fmt: Option[(Int, Int, Int)] = None // rate, channels, bits
    var dataLen = -1L
    while (off + 8 <= b.length && (fmt.isEmpty || dataLen < 0)) {
      val cid = new String(b, off, 4, "US-ASCII")
      val len = le32(off + 4).toLong & 0xffffffffL
      if (cid == "fmt " && off + 24 <= b.length)
        fmt = Some((le32(off + 12), le16(off + 10), le16(off + 22)))
      else if (cid == "data") dataLen = len
      off += 8 + len.toInt + (len.toInt & 1)
    }
    fmt.collect { case (rate, ch, bits)
        if dataLen >= 0 && ch > 0 && bits > 0 && rate > 0 =>
      (rate, ch, bits, dataLen / (ch.toLong * (bits / 8).max(1)))
    }
  }

  /** Decode an audio binary column into typed metadata, per-partition:
    * real RIFF/WAV parse when the payload is WAV, deterministic stub
    * otherwise (same contract as [[decodeImages]]). */
  def decodeAudio(ds: Dataset[MediaRow]): Dataset[AudioMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { row =>
        decodeWavReal(row.data) match {
          case Some((rate, ch, bits, frames)) =>
            AudioMeta(row.id, row.data.length, rate, ch, bits, frames,
              frames * 1000.0 / rate, decoded = true)
          case None =>
            val n = row.data.length
            AudioMeta(row.id, n, 16000, 1, 16, n / 2L,
              n / 2L * 1000.0 / 16000, decoded = false)
        }
      }
    }
  }

  /** Frame-sample a (fake) video payload: n evenly-spaced byte slices —
    * the batch shape of real frame extraction. */
  def frameSample(ds: Dataset[MediaRow], n: Int): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { row =>
        val len = row.data.length
        if (len == 0) Iterator.empty
        else (0 until n).iterator.map { i =>
          val off = (len.toLong * i / n).toInt
          val slice = row.data.slice(off, math.min(off + 16, len))
          (row.id, i, checksum(slice))
        }
      }
    }.toDF("id", "frame", "frame_checksum")
  }

  /** Resize: REAL decode → Graphics2D bilinear rescale → PNG re-encode
    * for ImageIO-readable payloads; un-decodable payloads fall back to
    * the deterministic truncate/pad fake so size accounting downstream
    * stays exercised for synthetic media. Per-partition map, zero
    * shuffle. */
  def resizeImages(ds: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] = {
    import ds.sparkSession.implicits._
    val budget = targetW * targetH * 3
    ds.mapPartitions { it =>
      it.map { row =>
        val real = try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(row.data))
          if (img == null) None
          else {
            val dst = new java.awt.image.BufferedImage(targetW, targetH,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = dst.createGraphics()
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, targetW, targetH, null)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(dst, "png", bos)
            Some(bos.toByteArray)
          }
        } catch { case _: Throwable => None }
        val out = real.getOrElse {
          // fake (test double): clamp payload to the pixel budget
          if (row.data.length >= budget) row.data.take(budget)
          else java.util.Arrays.copyOf(row.data, budget)
        }
        MediaRow(row.id, row.modality, out)
      }
    }
  }

  /** STUB feature extraction: binary payload -> dense float embedding
    * (a real implementation runs a vision/audio encoder per batch; one
    * model init per PARTITION is the whole point of the mapPartitions
    * shape). The fake projects byte histograms deterministically, L2-
    * normalized, so the output is directly consumable by
    * [[Similarity]]'s ANN/near-dup operators. */
  def extractFeatures(ds: Dataset[MediaRow], dim: Int = 64): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition model init happens once here
      it.map { row =>
        val v = new Array[Double](dim)
        var i = 0
        while (i < row.data.length) {
          v((row.data(i) & 0xff) % dim) += 1.0
          i += 1
        }
        var s = 0.0
        var j = 0
        while (j < dim) { s += v(j) * v(j); j += 1 }
        val n = math.sqrt(s)
        if (n > 0) { j = 0; while (j < dim) { v(j) /= n; j += 1 } }
        (row.id, v)
      }
    }.toDF("vec_id", "embedding")
  }

  /** Wrap a text table as fake media rows (test harness for the
    * plumbing; payload = utf-8 bytes). */
  def fromText(df: DataFrame, id: String, text: String,
               modality: String = "image"): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col(id).cast("long").as("id"), lit(modality).as("modality"),
        encode(col(text), "UTF-8").as("data"))
      .as[MediaRow]
  }
}
