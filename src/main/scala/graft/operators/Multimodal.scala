package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as
  * opaque `BINARY` columns with typed metadata, processed in batched
  * per-partition passes.
  *
  * The decode is REAL for raster images: [[ImageCodec]] wires the
  * stock-JDK `javax.imageio` reader (BMP/PNG — no native deps) into the
  * `mapPartitions` batch shape, and the generated fixtures are genuine
  * BMP bytes whose decoded dimensions and pixel sums the DuckDB oracle
  * recomputes arithmetically. Payloads in formats the JDK cannot read
  * fall back to the clearly-marked deterministic stubs ([[stubDecode]]
  * / [[stubResize]] / the 32-byte frame chunker) so one exotic file
  * cannot kill a partition's task; in production the fallback is where
  * an ffmpeg/JNI codec plugs in, with nothing else changing.
  *
  * Scale notes: payload bytes never shuffle — metadata is extracted in
  * a map stage, and any join/dedup downstream operates on the extracted
  * (hash, width, height, …) columns only. That is the 100 TB-safe
  * shape: move fingerprints, not media.
  */
object Multimodal {

  /** Media row schema: id + mime + opaque payload. mime is nullable
    * for the same reason payload is: a payloadless row (NULL source
    * text) has no bytes to sniff a type from. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("mime", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = true)))

  /** Schema of the decoded-feature struct. pixel_sum is the decoded
    * whole-image checksum — NULL on the stub path (no real pixels). */
  val featureSchema: StructType = StructType(Seq(
    StructField("byte_len", LongType),
    StructField("content_md5", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("pixel_sum", LongType)))

  /** Build a media table from the documents table by treating the text
    * bytes as an opaque payload — gives the harness a deterministic
    * binary column without external fixtures. */
  def mediaFromDocuments(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      concat(lit("application/x-demo-"),
        substring(md5(col(textCol)), 1, 4)).as("mime"),
      encode(col(textCol), "UTF-8").as("payload"))

  /** Deterministic REAL-image media table: one genuine 24-bit BMP per
    * document, dimensions/seed derived from `md5(text)` hex nibbles
    * ([[ImageCodec.md5Hex]] — identical digest to SQL `md5`), so the
    * oracle knows every image's ground truth without decoding anything.
    * Small dims (8–71 px) keep the generated corpus a few KB per row.
    * Generated in `mapPartitions` like a real blob-store fetch would
    * be; NULL text → NULL payload+mime (nothing to fetch).
    *
    * Codec/fetch stages are per-row CPU-bound, so the (id, text) rows
    * are spread to [[ShuffleWidth.cpuWidth]] tasks BEFORE payload
    * generation. The shuffle moves only pre-payload text rows; payload
    * bytes never shuffle. */
  def imagesFromDocuments(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    codecParallel(docs.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          if (r.isNullAt(1)) Row(id, null, null)
          else {
            val hex = ImageCodec.md5Hex(r.getString(1))
            val w = (Integer.parseInt(hex.substring(0, 4), 16) % 64) + 8
            val h = (Integer.parseInt(hex.substring(4, 8), 16) % 64) + 8
            val seed = Integer.parseInt(hex.substring(8, 12), 16) % 256
            Row(id, "image/bmp", ImageCodec.bmp(w, h, seed))
          }
        }
      }(enc)
  }

  /** Deterministic "video" media table in FIVE real container
    * formats: docs with id % 5 = 0 are standard multi-frame ANIMATED
    * GIFs, id % 5 = 2 MULTI-PAGE TIFFs (both written and demuxed by
    * the stock-JDK codecs), id % 5 = 3 uncompressed-DIB AVIs (RIFF
    * video container, [[ImageCodec.aviDib]]), id % 5 = 4 ISO-BMFF
    * MP4s carrying 'DIB ' samples ([[ImageCodec.mp4Dib]]), the rest
    * back-to-back BMP frame containers the length-prefixed
    * [[ImageCodec.splitFrames]] walk demuxes. All five carry the same
    * 2–7 ramp frames (fixed per-doc dims, frame f's ramp offset by
    * f), so the decoded pixel sums share one closed form. Same
    * md5-nibble ground-truth scheme (and pre-generation repartition)
    * as [[imagesFromDocuments]]. */
  def videosFromDocuments(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    codecParallel(docs.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          if (r.isNullAt(1)) Row(id, null, null)
          else {
            val hex = ImageCodec.md5Hex(r.getString(1))
            val fw = (Integer.parseInt(hex.substring(0, 4), 16) % 24) + 8
            val fh = (Integer.parseInt(hex.substring(4, 8), 16) % 24) + 8
            val seed = Integer.parseInt(hex.substring(8, 12), 16) % 256
            val nFrames = (Integer.parseInt(hex.substring(12, 16), 16) % 6) + 2
            if (id % 5 == 0)
              Row(id, "image/gif", ImageCodec.animatedGif(fw, fh, seed, nFrames))
            else if (id % 5 == 2)
              Row(id, "image/tiff", ImageCodec.multiPageTiff(fw, fh, seed, nFrames))
            else if (id % 5 == 3)
              Row(id, "video/x-msvideo", ImageCodec.aviDib(fw, fh, seed, nFrames))
            else if (id % 5 == 4)
              Row(id, "video/mp4", ImageCodec.mp4Dib(fw, fh, seed, nFrames))
            else {
              val payload = (0 until nFrames)
                .map(f => ImageCodec.bmp(fw, fh, seed + f))
                .reduce(_ ++ _)
              Row(id, "video/x-bmp-frames", payload)
            }
          }
        }
      }(enc)
  }

  /** Deterministic audio media table: one genuine 16-bit PCM mono WAV
    * per document (64–2111 samples, rate ∈ {8, 12, 16, 20} kHz, all
    * derived from md5(text) nibbles like [[imagesFromDocuments]]), so
    * the oracle knows every file's sample values in closed form. */
  def audioFromDocuments(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    codecParallel(docs.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          if (r.isNullAt(1)) Row(id, null, null)
          else {
            val hex = ImageCodec.md5Hex(r.getString(1))
            val n = (Integer.parseInt(hex.substring(0, 4), 16) % 2048) + 64
            val rate = 8000 + (Integer.parseInt(hex.substring(4, 8), 16) % 4) * 4000
            val seed = Integer.parseInt(hex.substring(8, 12), 16) % 256
            Row(id, "audio/wav", AudioCodec.wav(n, rate, seed))
          }
        }
      }(enc)
  }

  /** Batched partition-local audio decode — same `mapPartitions` codec
    * shape as [[decodePartitioned]]. Readable PCM goes through the
    * REAL `javax.sound.sampled` reader: sample_rate/n_samples are the
    * stream's actual header+payload values, duration_ms is integer
    * `n·1000 div rate`, and peak_abs / energy are computed from the
    * decoded samples (integer-exact, so the oracle recomputes them).
    * Non-audio payloads yield NULL decode columns (the ffmpeg hook
    * spot); NULL payloads decode to NULL features.
    * @return (media_id, mime, byte_len, sample_rate, n_samples,
    *         duration_ms, peak_abs, energy) */
  def decodeAudioPartitioned(media: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType), StructField("mime", StringType),
      StructField("byte_len", LongType), StructField("sample_rate", IntegerType),
      StructField("n_samples", LongType), StructField("duration_ms", LongType),
      StructField("peak_abs", LongType), StructField("energy", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(out)
    normalized(media).mapPartitions { rows =>
      // per-partition codec context opens here
      rows.map { r =>
        val id = r.getLong(0)
        val mime = if (r.isNullAt(1)) null else r.getString(1)
        val payload = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        if (payload == null) Row(id, mime, null, null, null, null, null, null)
        else AudioCodec.decode(payload) match {
          case Some(d) =>
            val n = d.samples.length.toLong
            Row(id, mime, payload.length.toLong, d.sampleRate, n,
              n * 1000L / d.sampleRate, AudioCodec.peakAbs(d.samples),
              AudioCodec.energy(d.samples))
          case None =>
            Row(id, mime, payload.length.toLong, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Partition-local acoustic fingerprinting: the REAL javax.sound
    * decode (same codec shape as [[decodeAudioPartitioned]]) followed
    * by [[AudioCodec.bandFingerprint]] over the decoded samples — the
    * map-only half of audio near-dup. Grouping by the fingerprint is
    * the caller's shuffle (a q104-style `min over (partition by fp)`
    * window), so at 100 TB only (media_id, fp) pairs move, never
    * payloads. Unreadable/NULL payloads carry a NULL fingerprint and
    * join no dup group.
    * @return (media_id, mime, sample_rate, n_samples, fingerprint) */
  def fingerprintAudioPartitioned(media: DataFrame, frames: Int = 32): DataFrame = {
    require(frames >= 2 && frames <= 63, s"frames must be in [2, 63], got $frames")
    val out = StructType(Seq(
      StructField("media_id", LongType), StructField("mime", StringType),
      StructField("sample_rate", IntegerType), StructField("n_samples", LongType),
      StructField("fingerprint", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(out)
    normalized(media).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val mime = if (r.isNullAt(1)) null else r.getString(1)
        val payload = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        if (payload == null) Row(id, mime, null, null, null)
        else AudioCodec.decode(payload) match {
          case Some(d) =>
            Row(id, mime, d.sampleRate, d.samples.length.toLong,
              AudioCodec.bandFingerprint(d.samples, frames))
          case None => Row(id, mime, null, null, null)
        }
      }
    }(enc)
  }

  /** FALLBACK decode for payloads the JDK codec cannot read (the real
    * path is [[ImageCodec.decode]]): deterministic pseudo-dimensions
    * from the payload's md5 — the SAME derivation as the column-level
    * [[extractFeatures]] (first 4 hex nibbles → width, next 4 →
    * height), so the two metadata paths agree on every row: a pipeline
    * that plans resizes from extracted metadata and executes them
    * partition-locally sees one set of dimensions, not two. In
    * production this body is the ffmpeg/JNI hook for non-JDK formats. */
  def stubDecode(payload: Array[Byte]): (Int, Int) = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(payload)
    val w = ((d(0) & 0xff) << 8 | (d(1) & 0xff)) % 1024 + 64
    val h = ((d(2) & 0xff) << 8 | (d(3) & 0xff)) % 1024 + 64
    (w, h)
  }

  /** Extract features per media row. Metadata (length, md5) is computed
    * with codegen'd built-ins; the stubbed decode runs partition-local
    * via a deterministic expression pipeline mirroring what a
    * `mapPartitions` batch decode would produce. */
  def extractFeatures(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      col("mime"),
      length(col("payload")).cast("long").as("byte_len"),
      md5(col("payload")).as("content_md5"),
      // stub pseudo-dimensions, portable arithmetic (md5-derived)
      (conv(substring(md5(col("payload")), 1, 4), 16, 10).cast("int") % 1024 + 64).as("width"),
      (conv(substring(md5(col("payload")), 5, 4), 16, 10).cast("int") % 1024 + 64).as("height"))

  /** FALLBACK resize for non-decodable payloads (the real path decodes,
    * resamples and re-encodes via [[ImageCodec]]): a deterministic
    * payload of plausible size (scaled by target/source pixel ratio) so
    * byte-accounting and downstream dedup-on-resized-hash still work on
    * formats awaiting a production codec hook. */
  def stubResize(payload: Array[Byte], srcW: Int, srcH: Int, dstW: Int, dstH: Int): Array[Byte] = {
    val ratio = (dstW.toLong * dstH).toDouble / (srcW.toLong * srcH)
    val n = Math.max(16, (payload.length * ratio).toInt)
    java.util.Arrays.copyOf(payload, n)
  }

  /** Batched partition-local resize — one codec context per partition,
    * payloads streamed through it; the output keeps BINARY payloads
    * partition-local (no shuffle touches media bytes). Decodable images
    * take the REAL path: `javax.imageio` decode → nearest-neighbor
    * resample ([[ImageCodec.resizeNearest]] — the one rule an SQL
    * oracle can replicate exactly) → deterministic BMP re-encode, with
    * `pixel_sum` of the resized image as the decoded-work checksum.
    * Non-decodable payloads fall back to [[stubResize]] (NULL
    * pixel_sum); NULL payloads resize to NULL rather than NPE-ing the
    * task — one poisoned row must not kill the partition.
    * @return (media_id, mime, width, height, payload, pixel_sum) */
  def resizePartitioned(
      media: DataFrame, dstW: Int, dstH: Int): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType), StructField("mime", StringType),
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("payload", BinaryType), StructField("pixel_sum", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(out)
    // normalize column order, then read positionally: chained object
    // operators hand rows across WITHOUT a ser/de boundary, so a
    // schema-less GenericRow from an upstream mapPartitions would make
    // name-based access throw
    normalized(media).mapPartitions { rows =>
      // per-partition codec context opens here
      rows.map { r =>
        val payload = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        var resized: Array[Byte] = null
        var psum: Any = null
        if (payload != null) ImageCodec.decode(payload) match {
          case Some(img) =>
            val dst = ImageCodec.resizeNearest(img, dstW, dstH)
            resized = ImageCodec.encodeBmp(dst)
            psum = ImageCodec.pixelSum(dst)
          case None =>
            val (w, h) = stubDecode(payload)
            resized = stubResize(payload, w, h, dstW, dstH)
        }
        Row(r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
          dstW, dstH, resized, psum)
      }
    }(enc)
  }

  /** Spread pre-payload rows across [[ShuffleWidth.cpuWidth]] tasks
    * before CPU-bound codec work. A round-robin repartition (no key:
    * the rows have no skew to manage, and hash-partitioning by id would
    * just burn CPU on hashing). */
  private def codecParallel(preMedia: DataFrame): DataFrame =
    preMedia.repartition(ShuffleWidth.cpuWidth(preMedia))

  /** Column-order normalization shared by the partitioned operators —
    * see the schema-less-row note in [[resizePartitioned]]. */
  private def normalized(media: DataFrame): DataFrame =
    media.select(col("media_id").cast("long"), col("mime").cast("string"),
      col("payload"))

  /** Frame sampling for video-shaped payloads: every `everyNth` frame
    * (up to `maxFrames`) is emitted as its own row — the one-row→N-rows
    * explode shape a real extractor uses, with frame payloads cut
    * partition-local from the source bytes.
    *
    * FIVE real demux paths: animated GIFs go through the stock-JDK
    * reader's image-block walk ([[ImageCodec.gifFrames]]), multi-page
    * TIFFs through the IFD-chain walk ([[ImageCodec.tiffFrames]] —
    * both standard formats, demuxed and decoded for real),
    * uncompressed-DIB AVIs through the RIFF chunk walk
    * ([[ImageCodec.aviDibFrames]] — a genuine video container whose
    * '00db' frame chunks decode losslessly through the
    * reconstructed-header BMP reader), ISO-BMFF MP4s through the
    * big-endian box walk ([[ImageCodec.mp4Frames]] — stsc/stsz/stco
    * sample reconstruction gives real frame boundaries with NO codec;
    * 'DIB ' samples decode like the AVI chunks, compressed fourccs
    * keep the structure and NULL only the pixel columns), and BMP
    * frame containers through the length-prefixed walk
    * ([[ImageCodec.splitFrames]]), each followed by a genuine decode
    * of the sampled frames (width/height/pixel_sum columns). GIF and
    * TIFF frames are logical entities inside one encoded stream (LZW
    * blocks / IFD-linked strips), not byte-delimited sub-payloads, so
    * their frame_md5/frame_bytes are NULL — per-frame bytes only
    * exist for containers that delimit them (AVI chunks, MP4 samples
    * and the BMP walk). Payloads that are none of the five —
    * including AVIs carrying a COMPRESSED codec (MJPEG, and lossy
    * codecs would break the exact oracle anyway) — fall back to the
    * fixed-stride 32-byte chunker with NULL decode columns: the
    * production hook for containers with no walkable structure. NULL
    * payloads yield zero frames (no content, no explode).
    *
    * Decoded frames also carry their perceptual average-hash
    * (`frame_ahash`, [[ImageCodec.aHashHex]] — q104's image hash at
    * frame granularity), so video-level fingerprinting (q127) is a
    * plain aggregation over this output instead of a second demux.
    * @return (media_id, frame_idx, width, height, frame_md5,
    *         pixel_sum, frame_bytes, frame_ahash) */
  def frameSample(
      media: DataFrame, everyNth: Int = 10, maxFrames: Int = 8): DataFrame = {
    require(everyNth >= 1 && maxFrames >= 1, "sampling knobs must be positive")
    val out = StructType(Seq(
      StructField("media_id", LongType), StructField("frame_idx", IntegerType),
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("frame_md5", StringType), StructField("pixel_sum", LongType),
      StructField("frame_bytes", LongType), StructField("frame_ahash", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(out)
    normalized(media).mapPartitions { rows =>
      rows.filter(!_.isNullAt(2)).flatMap { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](2)
        val md = java.security.MessageDigest.getInstance("MD5")
        def hex(b: Array[Byte]) = md.digest(b).map("%02x".format(_)).mkString
        // GIF image-block walk, then TIFF IFD walk — the two stock-JDK
        // standard containers share one decoded-frames emission
        ImageCodec.gifFrames(payload).orElse(ImageCodec.tiffFrames(payload)) match {
          case Some(gf) =>
            (0 until gf.length by everyNth).take(maxFrames).map { i =>
              val img = gf(i)
              Row(id, i, img.getWidth, img.getHeight, null,
                ImageCodec.pixelSum(img), null, ImageCodec.aHashHex(img))
            }
          case None => ImageCodec.aviDibFrames(payload) match {
          // RIFF walk: uncompressed-DIB AVI frames are byte-delimited
          // chunks (md5 + length exist) AND decode for real through
          // the reconstructed-header BMP reader; compressed-codec AVIs
          // return None here and take the stride chunker below — the
          // genuine non-JDK fallback
          case Some((w, h, chunks)) =>
            (0 until chunks.length by everyNth).take(maxFrames).map { i =>
              val f = chunks(i)
              val img = ImageCodec.dibFrameToImage(w, h, f)
              val ps: Any = img.map(ImageCodec.pixelSum).orNull
              val ah: Any = img.map(ImageCodec.aHashHex(_)).orNull
              Row(id, i, w, h, hex(f), ps, f.length.toLong, ah)
            }
          case None => ImageCodec.mp4Frames(payload) match {
          // ISO-BMFF box walk: sample boundaries/sizes/dims come from
          // the CONTAINER (stsd/stsz/stco/stsc — no codec involved),
          // so they are real for every mp4; 'DIB ' samples decode for
          // real through the reconstructed-header BMP reader, while a
          // compressed fourcc (avc1, …) keeps the genuine per-frame
          // structure and NULLs only the pixel columns — that decode
          // step is where an out-of-JDK codec plugs in
          case Some((w, h, fcc, samples)) =>
            (0 until samples.length by everyNth).take(maxFrames).map { i =>
              val f = samples(i)
              val img =
                if (fcc == "DIB ") ImageCodec.dibFrameToImage(w, h, f) else None
              val ps: Any = img.map(ImageCodec.pixelSum).orNull
              val ah: Any = img.map(ImageCodec.aHashHex(_)).orNull
              Row(id, i, w, h, hex(f), ps, f.length.toLong, ah)
            }
          case None => ImageCodec.splitFrames(payload) match {
          case Some(frames) =>
            (0 until frames.length by everyNth).take(maxFrames).map { i =>
              val f = frames(i)
              var w: Any = null; var h: Any = null; var ps: Any = null
              var ah: Any = null
              ImageCodec.decode(f).foreach { img =>
                w = img.getWidth; h = img.getHeight; ps = ImageCodec.pixelSum(img)
                ah = ImageCodec.aHashHex(img)
              }
              Row(id, i, w, h, hex(f), ps, f.length.toLong, ah)
            }
          case None =>
            // fallback chunker: one "frame" per 32 bytes
            val nFrames = Math.max(1, payload.length / 32)
            (0 until nFrames by everyNth).take(maxFrames).map { i =>
              val from = Math.min(i * 32, payload.length)
              val until = Math.min(from + 32, payload.length)
              val frame = java.util.Arrays.copyOfRange(payload, from, until)
              Row(id, i, null, null, hex(frame), null, frame.length.toLong, null)
            }
        }
        }
        }
        }
      }
    }(enc)
  }

  /** Batched partition-local decode — the `mapPartitions` shape a codec
    * integration uses (one codec context per partition, rows streamed
    * through it). Decodable images go through the REAL `javax.imageio`
    * reader: width/height are the image's actual dimensions and
    * pixel_sum is the decoded checksum; other formats fall back to
    * [[stubDecode]]'s md5 pseudo-dims with NULL pixel_sum. NULL
    * payloads decode to NULL features, mirroring [[extractFeatures]]
    * (whose md5/length built-ins are NULL-propagating) instead of
    * NPE-ing the task. */
  def decodePartitioned(media: DataFrame): DataFrame = {
    val out = StructType(mediaSchema.fields.filterNot(_.name == "payload") ++ featureSchema.fields)
    val enc = org.apache.spark.sql.Encoders.row(out)
    normalized(media).mapPartitions { rows =>
      // per-partition codec context opens here
      rows.map { r =>
        val id = r.getLong(0)
        val mime = if (r.isNullAt(1)) null else r.getString(1)
        val payload = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        if (payload == null)
          Row(id, mime, null, null, null, null, null)
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(payload).map("%02x".format(_)).mkString
          var w: Any = null; var h: Any = null; var ps: Any = null
          ImageCodec.decode(payload) match {
            case Some(img) =>
              w = img.getWidth; h = img.getHeight; ps = ImageCodec.pixelSum(img)
            case None =>
              val (sw, sh) = stubDecode(payload); w = sw; h = sh
          }
          Row(id, mime, payload.length.toLong, md, w, h, ps)
        }
      }
    }(enc)
  }

  /** Perceptual near-dup hashing over REAL decoded pixels: each image
    * gets the dim×dim average-hash ([[ImageCodec.aHashHex]] — the
    * classic aHash, robust to resizing since the grid samples
    * relative positions). The hash is integer-exact arithmetic over
    * the decoded pixels, so the DuckDB twin recomputes it from the
    * generator's ground-truth ramp without touching an image — the
    * same contract as q61/q62. Undecodable or NULL payloads yield a
    * NULL hash (they can't be perceptually compared).
    * @return (media_id, mime, ahash) */
  def aHashPartitioned(media: DataFrame, dim: Int = 8): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType), StructField("mime", StringType),
      StructField("ahash", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(out)
    normalized(media).mapPartitions { rows =>
      // per-partition codec context opens here
      rows.map { r =>
        val id = r.getLong(0)
        val mime = if (r.isNullAt(1)) null else r.getString(1)
        val payload = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        val hash =
          if (payload == null) null
          else ImageCodec.decode(payload).map(ImageCodec.aHashHex(_, dim)).orNull
        Row(id, mime, hash)
      }
    }(enc)
  }
}
