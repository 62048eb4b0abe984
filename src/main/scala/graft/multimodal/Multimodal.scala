package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata — the reference's attachment triple
  * (`_attachment_body/_mimetype/_charset`, FromConnectDataBuilder.java:104-117)
  * generalized into a first-class column pattern.
  *
  * Image payloads decode for real through `javax.imageio` (pure JVM — PNG/
  * JPEG/GIF/BMP readers ship with the JDK): width/height/channels + a
  * per-channel mean feature vector. Payloads no codec recognizes (plain
  * text, audio, video — those codecs aren't in this container) fall back to
  * a deterministic schema-correct stub, so the plan shape is identical
  * either way and a richer codec slots into the same per-partition hook.
  */
object Multimodal {

  /** Canonical multimodal column triple + media metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("body", BinaryType, nullable = true),
    StructField("mimeType", StringType, nullable = true),
    StructField("charset", StringType, nullable = true)))

  /** Feature schema produced by the decode stage. `channels` is non-null
    * exactly when a real image codec decoded the payload.
    */
  val featureSchema: StructType = StructType(Seq(
    StructField("byteLen", LongType, nullable = false),
    StructField("contentHash", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = true)))

  /** Wrap any castable column as a media binary column with mime metadata. */
  def asMedia(df: DataFrame, srcCol: String, mimeType: String): DataFrame =
    df.withColumn("media", struct(
      col(srcCol).cast(BinaryType).as("body"),
      lit(mimeType).as("mimeType"),
      lit("binary").as("charset")))

  // ================== STUB FALLBACK (non-image payloads) ==================
  // Deterministic fake decoder for payloads no JVM codec recognizes (audio/
  // video codecs aren't in this container): pseudo width/height and an 8-dim
  // feature vector from the byte content — schema-correct, so a real codec
  // swaps in without any plan change. `channels` stays null on this path.
  private[multimodal] def fakeDecode(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val h = java.util.Arrays.hashCode(bytes)
    val width = 16 + math.abs(h % 1024)
    val height = 16 + math.abs((h / 1024) % 1024)
    val feat = Array.tabulate(8)(i =>
      (((h * 31 + i * 2654435761L) & 0xFFFF).toFloat / 65535.0f))
    (width, height, feat)
  }
  // ========================================================================

  /** Decompression-bomb guard: max decoded pixel count accepted by
    * [[imageDecode]] (64 Mpx ≈ 256 MB as 4-channel int raster). Corpus
    * bytes are untrusted; a tiny crafted PNG can DECLARE a 60000×60000
    * canvas and `ImageIO.read` would allocate the full raster before any
    * pixel data is validated — an executor OOM no catch recovers from.
    */
  val maxDecodePixels: Long = 64L * 1024 * 1024

  /** Real image decode: `javax.imageio` (JDK-bundled PNG/JPEG/GIF/BMP
    * readers, headless-safe). Returns (width, height, channels, per-channel
    * mean over an ≤8×8 sample grid) or None when no installed reader
    * recognizes the bytes OR the HEADER declares more than
    * [[maxDecodePixels]] — dimensions are read from the header alone
    * (reader.getWidth/getHeight) before the raster is ever allocated, so
    * oversized payloads are rejected without allocating anything.
    */
  /** Header-guarded read: dimensions come from the image HEADER
    * (reader.getWidth/getHeight) and are checked against
    * [[maxDecodePixels]] BEFORE `reader.read` allocates the raster.
    */
  private def readGuarded(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); None }
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          val (w, h) = (reader.getWidth(0), reader.getHeight(0))
          if (w <= 0 || h <= 0 || w.toLong * h.toLong > maxDecodePixels) None
          else Option(reader.read(0))
        } finally { reader.dispose(); iis.close() }
      }
    } catch { case _: Exception => None }

  private[graft] def imageDecode(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Float])] =
    readGuarded(bytes) match {
      case None => None
      case Some(img) => try {
        Some {
          val (w, h) = (img.getWidth, img.getHeight)
          val channels = img.getColorModel.getNumComponents
          // per-channel mean over a bounded sample grid — constant work per
          // image regardless of resolution
          val (sx, sy) = (math.max(1, w / 8), math.max(1, h / 8))
          val sums = new Array[Long](channels)
          var n = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val px = img.getRaster.getPixel(x, y, null: Array[Int])
              var c = 0
              while (c < channels && c < px.length) { sums(c) += px(c); c += 1 }
              n += 1; x += sx
            }
            y += sy
          }
          (w, h, channels, sums.map(s => (s.toDouble / n / 255.0).toFloat))
        }
      } catch { case _: Exception => None }
    }

  /** Decode / feature-extract over the media column.
    *
    * Runs as `mapPartitions` over the typed Dataset — the Scala-side
    * equivalent of `mapInPandas` batch decode: per-partition setup cost is
    * amortized (ImageIO's reader registry is touched once per partition,
    * not per row), and partition byte size is bounded by
    * `spark.sql.files.maxPartitionBytes` at scan time so a partition of
    * blobs fits executor memory. Image bytes decode for real
    * ([[imageDecode]]); unrecognized payloads take the deterministic stub
    * with a null `channels`.
    */
  def decodeFeatures(spark: SparkSession, df: DataFrame,
                     bodyCol: String = "media.body"): DataFrame = {
    val withBytes = df.withColumn("__bytes", col(bodyCol))
    val schema = StructType(withBytes.schema.fields.filterNot(_.name == "__bytes") :+
      StructField("features", featureSchema, nullable = true))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    withBytes.mapPartitions { rows =>
      // per-partition: codec/registry init happens here, once
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("__bytes")
        val base = Row.fromSeq(
          r.toSeq.zip(r.schema.fields).collect {
            case (v, f) if f.name != "__bytes" => v
          })
        val feats = if (bytes == null) null else {
          val len = bytes.length.toLong
          val hash = java.util.Arrays.hashCode(bytes).toLong
          imageDecode(bytes) match {
            case Some((w, h, c, f)) => Row(len, hash, w, h, c, f.toSeq)
            case None =>
              val (w, h, f) = fakeDecode(bytes)
              Row(len, hash, w, h, null, f.toSeq)
          }
        }
        Row.fromSeq(base.toSeq :+ feats)
      }
    }(enc)
  }

  /** Deterministic PNG synthesis (fixture generation for the decode path —
    * NOT part of the engine surface): a `width`×`height` RGB image whose
    * fill color derives from `seed`, encoded through the same ImageIO
    * registry the decoder uses. Lets a corpus with no stored images
    * exercise the real decode end-to-end.
    */
  def synthesizePng(df: DataFrame, widthCol: String, heightCol: String,
                    seedCol: String): DataFrame = {
    // media nullable: a row with null dims/seed (e.g. derived from a
    // null-text document) synthesizes NO media rather than NPE-ing the
    // partition — downstream decode stages already treat a null body as
    // "no features" (poisoned-corpus sweep, r15)
    val schema = StructType(df.schema.fields :+
      StructField("media", mediaSchema, nullable = true))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        if (r.isNullAt(r.fieldIndex(widthCol)) ||
            r.isNullAt(r.fieldIndex(heightCol)) ||
            r.isNullAt(r.fieldIndex(seedCol)))
          Row.fromSeq(r.toSeq :+ null)
        else {
          val w = r.getAs[Number](widthCol).intValue()
          val h = r.getAs[Number](heightCol).intValue()
          val seed = r.getAs[Number](seedCol).longValue()
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val rgb = (seed * 2654435761L & 0xFFFFFF).toInt
          // bulk setRGB (identical stored bytes — see synthesizePatternPng)
          val arr = Array.fill(w * h)(rgb)
          img.setRGB(0, 0, w, h, arr, 0, w)
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", out)
          Row.fromSeq(r.toSeq :+ Row(out.toByteArray, "image/png", "binary"))
        }
      }
    }(enc)
  }

  /** Patterned deterministic PNG synthesis (fixture generation, like
    * [[synthesizePng]] but with per-pixel content): channel values are a
    * fixed integer formula of (class, x, y) plus a per-image brightness
    * `jitter` — mid-range (32..222) so jitter never clips. Images of the
    * same class differ only by a constant brightness shift, which the
    * average-hash provably ignores (integer division by 1000 and the mean
    * both shift by exactly `jitter`), so the class structure is
    * recoverable from the decoded pixels alone.
    */
  def synthesizePatternPng(df: DataFrame, widthCol: String, heightCol: String,
                           classCol: String, jitterCol: String): DataFrame = {
    // media nullable on null inputs — same contract as [[synthesizePng]]
    val schema = StructType(df.schema.fields :+
      StructField("media", mediaSchema, nullable = true))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        if (Seq(widthCol, heightCol, classCol, jitterCol)
            .exists(c => r.isNullAt(r.fieldIndex(c)))) {
          Row.fromSeq(r.toSeq :+ null)
        } else {
        val w = r.getAs[Number](widthCol).intValue()
        val h = r.getAs[Number](heightCol).intValue()
        val cls = r.getAs[Number](classCol).longValue()
        val jit = r.getAs[Number](jitterCol).intValue()
        // channel formula range is [32, 191] + jit; jit outside [0, 63]
        // (or a negative class making `%` negative) would push a channel
        // past 0..255 and (rr << 16) | (gg << 8) | bb silently bleeds
        // into the adjacent channel, breaking the jitter-cancellation
        // invariant the phash oracle relies on — fail loudly instead
        require(jit >= 0 && jit <= 63,
          s"jitter $jit outside [0, 63]: channel would clip/bleed")
        require(cls >= 0, s"negative class $cls: channel formula underflows")
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        // one bulk setRGB per image instead of w×h calls: the bulk
        // variant applies the identical per-element sRGB conversion
        // (same stored bytes, same PNG, same phash) without the
        // per-call raster/sync overhead — measured r21, per-task-work
        // tier (guide §1.2 step 2)
        val arr = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rr = (32 + (cls * 7 + x * 13L + y * 31L) % 160 + jit).toInt
            val gg = (32 + (cls * 11 + x * 17L + y * 23L) % 160 + jit).toInt
            val bb = (32 + (cls * 13 + x * 19L + y * 29L) % 160 + jit).toInt
            arr(y * w + x) = (rr << 16) | (gg << 8) | bb
            x += 1
          }
          y += 1
        }
        img.setRGB(0, 0, w, h, arr, 0, w)
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        Row.fromSeq(r.toSeq :+ Row(out.toByteArray, "image/png", "binary"))
        }
      }
    }(enc)
  }

  /** Average-hash perceptual signature over a REAL decode: sample an 8×8
    * luminance grid from the decoded image, threshold against the integer
    * mean, and emit the 64 bits as a '0'/'1' string (bit k = y-major; a
    * string rather than a packed long keeps the signature engine-portable
    * and hash-comparable with no sign-bit gymnastics). NULL when no
    * installed codec recognizes the payload.
    *
    * This is the LAION-style image-dedup first pass: brightness/contrast
    * shifts and re-encodes preserve the hash, so exact grouping on it
    * collapses perceptual duplicate classes — at corpus scale the groupBy
    * shuffles 64-byte signatures, never pixels. All sampling/threshold
    * arithmetic is integer, so an oracle can recompute the signature from
    * a known pixel formula without any image codec.
    */
  def imageAvgHashBits(df: DataFrame,
                       bodyCol: String = "media.body"): DataFrame = {
    val withBytes = df.withColumn("__bytes", col(bodyCol))
    val schema = StructType(withBytes.schema.fields.filterNot(_.name == "__bytes") :+
      StructField("phash_bits", StringType, nullable = true))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    withBytes.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("__bytes")
        val base = Row.fromSeq(
          r.toSeq.zip(r.schema.fields).collect {
            case (v, f) if f.name != "__bytes" => v
          })
        val bits = if (bytes == null) null else readGuarded(bytes) match {
          case None => null
          case Some(img) =>
            val (w, h) = (img.getWidth, img.getHeight)
            val lum = new Array[Long](64)
            var k = 0
            var j = 0
            while (j < 8) {
              var i = 0
              while (i < 8) {
                val px = img.getRGB((i * w) / 8, (j * h) / 8)
                val rr = (px >> 16) & 0xFF; val gg = (px >> 8) & 0xFF
                val bb = px & 0xFF
                lum(k) = (299L * rr + 587L * gg + 114L * bb) / 1000L
                k += 1; i += 1
              }
              j += 1
            }
            val mean = lum.sum / 64
            val sb = new java.lang.StringBuilder(64)
            lum.foreach(l => sb.append(if (l > mean) '1' else '0'))
            sb.toString
        }
        Row.fromSeq(base.toSeq :+ bits)
      }
    }(enc)
  }

  /** Deterministic image resize: decode (header-guarded), NEAREST-NEIGHBOR
    * sample to `targetW`×`targetH` — out(x, y) = in((x·w)/tw, (y·h)/th),
    * pure integer index math, so the resized pixels are bit-reproducible
    * across JVMs and recomputable by an oracle (Graphics2D interpolation
    * is neither) — and re-encode as PNG into a `resized` media column.
    * Undecodable payloads yield a null body (schema-stable, no crash).
    *
    * This is the standard pre-embedding normalization step of an image
    * training pipeline; at scale it runs decode-after-filter inside
    * `mapPartitions` (codec registry touched once per partition), and the
    * output column is bounded at tw×th×3 bytes + PNG framing per row
    * regardless of source resolution.
    */
  def imageResizeNearest(df: DataFrame, bodyCol: String,
                         targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dims must be positive")
    val withBytes = df.withColumn("__bytes", col(bodyCol))
    val schema = StructType(withBytes.schema.fields.filterNot(_.name == "__bytes") :+
      StructField("resized", mediaSchema, nullable = false))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    withBytes.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("__bytes")
        val base = Row.fromSeq(
          r.toSeq.zip(r.schema.fields).collect {
            case (v, f) if f.name != "__bytes" => v
          })
        val body: Array[Byte] =
          if (bytes == null) null
          else readGuarded(bytes) match {
            case None => null
            case Some(img) =>
              val (w, h) = (img.getWidth, img.getHeight)
              val out = new java.awt.image.BufferedImage(targetW, targetH,
                java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
              var y = 0
              while (y < targetH) {
                var x = 0
                while (x < targetW) {
                  out.setRGB(x, y,
                    img.getRGB((x * w) / targetW, (y * h) / targetH))
                  x += 1
                }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", bos)
              bos.toByteArray
          }
        Row.fromSeq(base.toSeq :+ Row(body, "image/png", "binary"))
      }
    }(enc)
  }

  /** Cheap columnar media stats that need no decode: pure expressions over
    * the binary column (length, hash, magic-byte sniff). These run in
    * whole-stage codegen — use them to pre-filter before the expensive
    * decode stage (decode-after-filter is the 100 TB pattern).
    */
  def mediaStats(df: DataFrame, bodyCol: String = "media.body"): DataFrame =
    df.withColumn("byteLen", length(col(bodyCol)).cast("long"))
      .withColumn("contentMd5", md5(col(bodyCol)))
      .withColumn("sniffedType",
        when(hex(substring(col(bodyCol), 1, 2)) === "FFD8", "image/jpeg")
          .when(hex(substring(col(bodyCol), 1, 4)) === "89504E47", "image/png")
          .otherwise("application/octet-stream"))

  /** Frame-sample stand-in for video columns: emit every `stride`-th chunk
    * of the payload as a "frame" (1→N explode). Real frame extraction slots
    * into the same explode shape.
    */
  def frameSample(df: DataFrame, bodyCol: String, chunkBytes: Int,
                  stride: Int): DataFrame =
    df.withColumn("frameIdx",
        explode(sequence(lit(0),
          greatest(expr(s"length($bodyCol) div $chunkBytes div $stride").cast("int") - 1,
            lit(0)))))
      .withColumn("frame",
        col(bodyCol).substr((col("frameIdx") * stride * chunkBytes + 1).cast("int"),
          lit(chunkBytes)))

  // ====================== audio (s16le PCM) tier ======================

  /** Synthesize REAL signed-16-bit little-endian PCM payloads from a
    * deterministic integer waveform — sample_i = ((tone·37 + i·17) mod
    * 4096) − 2048 — the audio counterpart of [[synthesizePatternPng]]:
    * the bytes on the wire are genuine PCM (a real audio pipeline swaps
    * its codec in without plan changes), and because the waveform is an
    * integer formula, feature oracles recompute expected values without
    * parsing bytes (the phash-oracle pattern). Appends `media` with
    * mime `audio/L16`.
    */
  def synthesizePcm(df: DataFrame, toneCol: String,
                    nSamplesCol: String): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField("media", mediaSchema, nullable = false))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val tone = r.getAs[Number](toneCol).longValue()
        val n = r.getAs[Number](nSamplesCol).intValue()
        require(tone >= 0 && n >= 1, s"tone=$tone n=$n out of range")
        val buf = java.nio.ByteBuffer.allocate(2 * n)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < n) {
          buf.putShort((((tone * 37L + i * 17L) % 4096L) - 2048L).toShort)
          i += 1
        }
        Row.fromSeq(r.toSeq :+ Row(buf.array(), "audio/L16", "binary"))
      }
    }(enc)
  }

  /** Decode s16le PCM bytes and emit the audio-curation signals real
    * pipelines gate on — exact integer energy (Σ s²), peak |amplitude|,
    * and zero-crossing count (the voiced/unvoiced + silence heuristics).
    * ByteBuffer decode per row inside `mapPartitions`; audio bytes never
    * shuffle — only the integer signals leave the scan stage. All
    * outputs are integers, so the gate hash-compares exactly.
    */
  def pcmFeatures(df: DataFrame, bodyCol: String = "media.body"): DataFrame = {
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("n_samples", LongType, nullable = false),
      StructField("sum_sq", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("zero_cross", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    // resolve the (possibly nested) body path to POSITIONAL indexes at
    // plan time: chained mapPartitions can hand this lambda the raw
    // schema-less Rows the upstream lambda built (object-chain
    // elimination skips the encoder round-trip), where name lookup fails
    val pathIdx = bodyCol.split("\\.").foldLeft(
        (Seq.empty[Int], df.schema: org.apache.spark.sql.types.DataType)) {
      case ((idxs, st: StructType), f) =>
        (idxs :+ st.fieldIndex(f), st(f).dataType)
      case ((idxs, other), f) =>
        throw new IllegalArgumentException(s"$f not a struct field in $other")
    }._1
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = pathIdx.zipWithIndex.foldLeft[Any](r) {
          case (row: Row, (i, _)) => row.get(i)
          // a non-Row met with path segments left to resolve means the
          // caller's bodyCol names a path through a non-struct — fail
          // with the offending segment, not a downstream ClassCast on
          // whatever bytes happened to be at the wrong position
          case (x, (_, depth)) => throw new IllegalStateException(
            s"pcmFeatures: path '$bodyCol' segment #$depth " +
              s"('${bodyCol.split("\\.")(depth)}') resolves into a " +
              s"non-struct value of ${if (x == null) "null" else x.getClass.getName}")
        }.asInstanceOf[Array[Byte]]
        val buf = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val n = bytes.length / 2
        var i = 0; var sumSq = 0L; var peak = 0L; var zc = 0L
        var prevNonNeg = true
        while (i < n) {
          val s = buf.getShort(2 * i).toLong
          sumSq += s * s
          val a = math.abs(s); if (a > peak) peak = a
          val nonNeg = s >= 0
          if (i > 0 && nonNeg != prevNonNeg) zc += 1
          prevNonNeg = nonNeg
          i += 1
        }
        Row.fromSeq(r.toSeq ++ Seq(n.toLong, sumSq, peak, zc))
      }
    }(enc)
  }
}
