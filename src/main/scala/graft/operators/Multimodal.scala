package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing for training-data pipelines.
  *
  * Media payloads are opaque `binary` columns with typed metadata. All
  * THREE modalities have REAL codec paths:
  *  - image: `javax.imageio` decode ([[decodeGray]]), true
  *    nearest-neighbor resample ([[resizeDecoded]]), lossless PNG
  *    re-encode;
  *  - video: concatenated-PNG containers walked by a real chunk parser
  *    ([[pngFrameRanges]]), member keyframes decoded through the image
  *    codec ([[sampleKeyframes]] / [[keyframeStats]]);
  *  - audio: RIFF/WAVE containers parsed chunk-by-chunk
  *    ([[decodePcm]], unknown chunks skipped by size), 16-bit PCM
  *    decoded to exact integer signal stats ([[audioStats]]).
  * Every path's correctness gate recomputes the decoded values from a
  * deterministic formula, so the container walk + decode round-trips
  * are oracle-verified. The byte-histogram fake ([[stubDecode]])
  * remains ONLY as the documented fallback for payloads that are not a
  * container this engine can walk (e.g. MP4 — no MP4 lib ships in this
  * JRE); swapping in such a decoder changes one function body, not the
  * pipeline.
  *
  * Decode runs per-partition over iterator batches (the Scala analogue of
  * `mapInPandas`: amortizes per-batch setup, streams rows, never
  * materializes a partition). Partition count is driven by input splits;
  * re-partition upstream by id for even batches when payload sizes skew.
  */
object Multimodal {

  case class MediaRow(id: Long, kind: String, content: Array[Byte],
                      meta: Map[String, String])
  case class MediaFeatures(id: Long, kind: String, n_bytes: Long,
                           features: Array[Float])
  case class MediaFrame(id: Long, frame_no: Int, frame: Array[Byte])

  /** Synthesize a media table from documents (deterministic fake payload:
    * the UTF-8 text bytes standing in for an encoded image/audio blob).
    */
  def syntheticMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("id"),
      (when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video")).as("kind"),
      encode(col("text"), "UTF-8").as("content"),
      map(lit("source"), col("source"), lit("lang"), col("lang")).as("meta"))

  /** ======== STUB (opaque-payload fallback ONLY) ========
    * Deterministic fake decoder: a 16-bin byte histogram normalized to
    * unit L1 mass — the fallback when a payload is not a container this
    * engine can walk (real paths: [[decodeGray]] for images,
    * [[pngFrameRanges]]+[[keyframeStats]] for video, [[decodePcm]] for
    * WAV audio). Everything around this function — schema, batching,
    * partitioning — is production-shaped.
    */
  private def stubDecode(content: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < content.length) { hist((content(i) & 0xFF) % 16) += 1f; i += 1 }
    val n = math.max(1, content.length).toFloat
    hist.map(_ / n)
  }

  case class DecodedImage(width: Int, height: Int, gray: Array[Int])

  /** REAL image decode via the JDK's `javax.imageio` (no external libs):
    * any format the JRE ships a reader for (PNG, JPEG, BMP, GIF…) decodes
    * to its raster; band 0 is the luminance for grayscale images. Returns
    * None for payloads no reader recognizes — callers fall back rather
    * than fail, so mixed/corrupt corpora survive the pass (the standard
    * pipeline posture: route undecodable rows to a quarantine filter).
    */
  def decodeGray(content: Array[Byte]): Option[DecodedImage] = {
    javax.imageio.ImageIO.setUseCache(false) // no temp-file cache in executors
    try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))).map { img =>
        val w = img.getWidth; val h = img.getHeight
        val raster = img.getRaster
        val gray = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { gray(y * w + x) = raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
        DecodedImage(w, h, gray)
      }
      // NonFatal, not just IOException: ImageIO readers throw runtime
      // exceptions (IllegalArgument/IndexOutOfBounds/NegativeArraySize)
      // on malformed headers — a hostile byte blob must quarantine, not
      // kill the task
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** PNG-encode a grayscale raster (JDK encoder; decode-exact: PNG is
    * lossless, so `decodeGray(encodeGrayPng(i)) == i` always).
    */
  def encodeGrayPng(img: DecodedImage): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val bi = new java.awt.image.BufferedImage(
      img.width, img.height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = bi.getRaster
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        // clamp into the 8-bit raster: a >8-bit source (16-bit grayscale)
        // would otherwise silently wrap to its low byte
        raster.setSample(x, y, 0, math.max(0, math.min(img.gray(y * img.width + x), 255)))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", bos)
    bos.toByteArray
  }

  /** Decode/feature-extract: per-partition iterator processing. Images
    * with a decodable payload get REAL pixel-histogram features (16-bin
    * luminance, unit L1); undecodable images and the stubbed audio/video
    * kinds keep the byte-histogram fake.
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val feats =
          (if (r.kind == "image") decodeGray(r.content) else None) match {
            case Some(img) =>
              val hist = new Array[Float](16)
              // clamp: band-0 samples exceed 255 for >8-bit rasters
              // (16-bit grayscale PNG) — bin them at the top, don't AIOOBE
              img.gray.foreach { g => hist(math.min(g / 16, 15)) += 1f }
              hist.map(_ / math.max(1, img.gray.length))
            case None => stubDecode(r.content)
          }
        MediaFeatures(r.id, r.kind, r.content.length.toLong, feats)
      }
    }
  }

  /** Deterministic REAL image corpus: one 16×16 grayscale PNG per
    * document, pixel(x, y) = (doc_id·31 + y·16 + x) mod 256 — a formula
    * any engine can recompute, so the PNG encode→decode round-trip is
    * hash-verifiable (q88/q89), not just shape-checked.
    */
  def syntheticImages(docs: DataFrame, side: Int = 16): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val gray = Array.tabulate(side * side)(i => (((id * 31 + i) % 256) + 256).toInt % 256)
        MediaRow(id, "image", encodeGrayPng(DecodedImage(side, side, gray)),
          Map("w" -> side.toString, "h" -> side.toString))
      }
    }
  }

  /** Variable-dimension REAL image corpus: w = 8 + (doc_id mod 5)·4,
    * h = 8 + (doc_id mod 3)·8 — formula-recomputable dims so the
    * decode round-trip stays hash-verifiable while the aspect mix
    * (8×8 .. 24×24, 1:3 .. 3:1) exercises ratio-dependent pipeline
    * stages. Pixel formula as [[syntheticImages]].
    */
  def syntheticImagesVar(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        // mod normalized like the pixel formula below and the sibling
        // generators — a negative id must not yield non-positive dims
        val w = 8 + (((id % 5) + 5) % 5).toInt * 4
        val h = 8 + (((id % 3) + 3) % 3).toInt * 8
        val gray = Array.tabulate(w * h)(i => (((id * 31 + i) % 256) + 256).toInt % 256)
        MediaRow(id, "image", encodeGrayPng(DecodedImage(w, h, gray)),
          Map("w" -> w.toString, "h" -> h.toString))
      }
    }
  }

  /** Aspect-ratio bucketing — the multimodal batch-packing primitive
    * (vision-training pipelines group images by aspect so a batch
    * shares one padded shape): dims come from the REAL decoder (never
    * the metadata — a corrupt payload must not silently bucket), the
    * bucket rule is exact cross-multiplied integers (landscape iff
    * 3w ≥ 4h, portrait iff 3h ≥ 4w, else square), and each bucket
    * reports its image count, total pixels, and the number of
    * `pxBudget`-pixel batches it packs into (ceil division). One
    * mapPartitions decode pass + one small aggregation — decode cost
    * dominates, exactly as at 100 TB.
    */
  def aspectBuckets(media: DataFrame, pxBudget: Long = 65536L): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      decodeGray(r.content).map { img =>
        val bucket =
          if (img.width * 3 >= img.height * 4) "landscape"
          else if (img.height * 3 >= img.width * 4) "portrait"
          else "square"
        (bucket, img.width.toLong * img.height)
      }
    }.toDF("bucket", "px")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_images"), sum(col("px")).as("sum_px"))
      .select(col("bucket"), col("n_images"), col("sum_px"),
        expr(s"(sum_px + ${pxBudget - 1}) div $pxBudget").as("n_batches"))
  }

  /** Exact integer pixel stats through the REAL decoder — the decode
    * correctness gate: (id, width, height, n_px, sum_lum, n_dark) with
    * sum/dark over band-0 luminance. Rows whose payload doesn't decode
    * are dropped (visible as a row-count mismatch, never silent).
    */
  def imageStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      decodeGray(r.content).map { img =>
        (r.id, img.width.toLong, img.height.toLong, img.gray.length.toLong,
          img.gray.foldLeft(0L)(_ + _), img.gray.count(_ < 128).toLong)
      }
    }.toDF("id", "width", "height", "n_px", "sum_lum", "n_dark")
  }

  /** REAL image resize: decode → nearest-neighbor resample (source pixel
    * (x·w/w', y·h/h'), integer floor — deterministic on any JRE, unlike
    * interpolating Graphics2D filters) → lossless PNG re-encode.
    * Non-image or undecodable rows pass through untouched.
    */
  def resizeDecoded(media: DataFrame, newW: Int, newH: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].map { r =>
      (if (r.kind == "image") decodeGray(r.content) else None) match {
        case Some(img) =>
          val out = new Array[Int](newW * newH)
          var y = 0
          while (y < newH) {
            val sy = y * img.height / newH
            var x = 0
            while (x < newW) {
              out(y * newW + x) = img.gray(sy * img.width + x * img.width / newW)
              x += 1
            }
            y += 1
          }
          r.copy(content = encodeGrayPng(DecodedImage(newW, newH, out)),
            meta = r.meta + ("resized" -> s"${newW}x$newH"))
        case None => r
      }
    }
  }

  /** 64-bit average-hash (aHash) through the REAL decoder: 8×8
    * nearest-neighbor resample of the decoded raster, then
    * bit k = [64·sample_k ≥ Σ samples] — the mean threshold done as an
    * integer cross-multiply, so no division and no float anywhere and
    * any engine replaying the pixel formula lands on the identical
    * bits. Packed row-major into two unsigned 32-bit halves
    * `(h_lo, h_hi)` (two BIGINTs instead of one so the top bit never
    * touches the sign — SQL engines disagree about 1<<63). Rows whose
    * payload doesn't decode are dropped, like [[imageStats]].
    */
  def perceptualHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      decodeGray(r.content).map { img =>
        val s = new Array[Long](64)
        var y = 0
        while (y < 8) {
          val sy = y * img.height / 8
          var x = 0
          while (x < 8) {
            s(y * 8 + x) = img.gray(sy * img.width + x * img.width / 8).toLong
            x += 1
          }
          y += 1
        }
        val sum = s.sum
        var lo = 0L; var hi = 0L; var k = 0
        while (k < 64) {
          if (64L * s(k) >= sum) {
            if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
          }
          k += 1
        }
        (r.id, lo, hi)
      }
    }.toDF("id", "h_lo", "h_hi")
  }

  /** Exact Hamming near-dup pairs over [[perceptualHashes]] output:
    * all pairs a < b with popcount(xor) ≤ `maxHamming` — the quadratic
    * AUDIT baseline, fenced, kept only as the parity reference for
    * [[phashPairsBanded]] (the shipped, scale-safe path that produces
    * the identical result set via pigeonhole banding).
    */
  def phashPairs(hashes: DataFrame, maxHamming: Int,
                 maxRows: Long = 100000L): DataFrame = {
    val n = hashes.count()
    require(n <= maxRows,
      s"phashPairs is an exact all-pairs audit over $n rows (~${n * n / 2} pairs); " +
        s"cap is $maxRows. Band the halves (Dedup.simhashPairs shape) for bigger corpora.")
    val a = hashes.select(col("id").as("a"), col("h_lo").as("alo"), col("h_hi").as("ahi"))
    val b = hashes.select(col("id").as("b"), col("h_lo").as("blo"), col("h_hi").as("bhi"))
    a.crossJoin(b).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        (bit_count(col("alo").bitwiseXOR(col("blo"))) +
          bit_count(col("ahi").bitwiseXOR(col("bhi")))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Pigeonhole-banded Hamming near-dup pairs — the SCALE path, and
    * exact-equivalent to [[phashPairs]]: split the 64 hash bits into
    * `maxHamming + 1` contiguous chunks; any pair within Hamming
    * distance `maxHamming` has fewer differing bits than chunks, so by
    * pigeonhole it agrees EXACTLY on at least one chunk. Candidates are
    * generated by an equi-join on (chunk index, chunk value) — work
    * proportional to true near-dups plus chunk collisions, never
    * |rows|² — then verified by exact popcount, so the result set is
    * bit-identical to the all-pairs audit (same rows, same hashes) with
    * no fence needed. Shuffle key is (band, chunk value); a hot chunk
    * value (e.g. all-zero bits from flat images) is the skew to watch —
    * AQE skew-join handles it, or raise `maxHamming` granularity.
    */
  /** The pigeonhole band/chunk rows of [[phashPairsBanded]] factored
    * out — `(id, h_lo, h_hi, band, chunk)`, one row per hash per
    * chunk — so the persisted image near-dup index
    * ([[graft.functions.PhashIndex]]) encodes through the IDENTICAL
    * chunking as the in-query pair enumeration (the
    * Dedup.bandKeys one-definition rule).
    */
  private[graft] def hashChunks(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64); got $maxHamming")
    val bands = maxHamming + 1
    // chunk boundaries over the 64 bits: first (64 % bands) chunks get
    // the extra bit
    val base = 64 / bands
    val rem = 64 % bands
    val starts = (0 until bands).scanLeft(0)((s, i) =>
      s + base + (if (i < rem) 1 else 0))
    // reassemble the two u32 halves into one 64-bit key (sign bit only
    // ever participates in xor/popcount/shift — never compared as a
    // magnitude), so chunk extraction is one unsigned shift + mask
    val full = col("h_lo").bitwiseOR(shiftleft(col("h_hi"), 32))
    val chunks = (0 until bands).map { i =>
      val start = starts(i)
      val width = starts(i + 1) - start
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(i).as("band"),
        shiftrightunsigned(full, start).bitwiseAND(lit(mask)).as("chunk"))
    }
    hashes.select(col("id"), col("h_lo"), col("h_hi"),
      explode(array(chunks: _*)).as("bk"))
      .select(col("id"), col("h_lo"), col("h_hi"),
        col("bk.band").as("band"), col("bk.chunk").as("chunk"))
  }

  def phashPairsBanded(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val banded = hashChunks(hashes, maxHamming)
    val a = banded.select(col("band"), col("chunk"), col("id").as("a"),
      col("h_lo").as("alo"), col("h_hi").as("ahi"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("b"),
      col("h_lo").as("blo"), col("h_hi").as("bhi"))
    a.join(b, Seq("band", "chunk"))
      .where(col("a") < col("b"))
      // a pair can match on several chunks — dedup BEFORE the verify so
      // each candidate is popcounted once
      .select(col("a"), col("b"), col("alo"), col("ahi"), col("blo"), col("bhi"))
      .distinct()
      .select(col("a"), col("b"),
        (bit_count(col("alo").bitwiseXOR(col("blo"))) +
          bit_count(col("ahi").bitwiseXOR(col("bhi")))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Deterministic REAL video corpus: one concatenated-PNG container per
    * document (the MJPEG idea with PNG members — every frame is an
    * independently-decodable keyframe), `(doc_id mod 5) + 3` frames of
    * `side`×`side` grayscale, pixel(f, i) = (doc_id·31 + f·17 + i) mod
    * 256 — a formula any engine can recompute, so the container walk +
    * decode round-trip is hash-verifiable (q88's pattern one modality
    * over).
    */
  def syntheticVideos(docs: DataFrame, side: Int = 16): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val nFrames = (((id % 5) + 5) % 5 + 3).toInt
        val bos = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < nFrames) {
          val gray = Array.tabulate(side * side)(i =>
            ((((id * 31 + f * 17 + i) % 256) + 256) % 256).toInt)
          bos.write(encodeGrayPng(DecodedImage(side, side, gray)))
          f += 1
        }
        MediaRow(id, "video", bos.toByteArray,
          Map("container" -> "png-concat", "n_frames" -> nFrames.toString))
      }
    }
  }

  /** REAL container walk over a concatenated-PNG payload: verify the
    * 8-byte PNG signature, then parse the chunk stream (4-byte
    * big-endian length + 4-byte type + data + 4-byte CRC) until IEND
    * closes the member; repeat until the payload is exhausted. Returns
    * the [start, end) byte range of each member frame. Malformed or
    * trailing garbage stops the walk at the last well-formed frame —
    * quarantine, never a task kill (the [[decodeGray]] posture).
    */
  def pngFrameRanges(content: Array[Byte]): Seq[(Int, Int)] = {
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var o = 0
    var ok = true
    while (ok && o + 8 <= content.length) {
      if (!sig.indices.forall(i => content(o + i) == sig(i))) ok = false
      else {
        var p = o + 8
        var closed = false
        while (ok && !closed) {
          if (p + 8 > content.length) ok = false
          else {
            val len = ((content(p) & 0xff) << 24) | ((content(p + 1) & 0xff) << 16) |
              ((content(p + 2) & 0xff) << 8) | (content(p + 3) & 0xff)
            val typ = new String(content, p + 4, 4, "US-ASCII")
            val next = p.toLong + 8L + len.toLong + 4L // header + data + CRC
            if (len < 0 || next > content.length) ok = false
            else {
              p = next.toInt
              if (typ == "IEND") closed = true
            }
          }
        }
        if (ok && closed) { out += ((o, p)); o = p }
      }
    }
    out.toSeq
  }

  /** REAL keyframe sampling: walk each video's PNG-concat container
    * ([[pngFrameRanges]]) and emit every `stride`-th member frame's
    * encoded bytes as (id, frame_no, frame) — each frame decodes
    * independently through [[decodeGray]]. Non-video rows are skipped;
    * payloads that are not PNG containers yield no frames (visible as
    * missing rows, never silent garbage).
    */
  def sampleKeyframes(media: DataFrame, stride: Int = 2): Dataset[MediaFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].filter(_.kind == "video").flatMap { r =>
      val ranges = pngFrameRanges(r.content)
      ranges.indices.collect { case f if f % stride == 0 =>
        val (from, until) = ranges(f)
        MediaFrame(r.id, f, java.util.Arrays.copyOfRange(r.content, from, until))
      }
    }
  }

  /** Exact integer pixel stats for sampled keyframes through the REAL
    * decoder — the video analogue of [[imageStats]]: (id, frame_no,
    * width, height, n_px, sum_lum, n_dark). Frames that fail to decode
    * are dropped (row-count mismatch, never silent).
    */
  def keyframeStats(frames: Dataset[MediaFrame]): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.flatMap { fr =>
      decodeGray(fr.frame).map { img =>
        (fr.id, fr.frame_no.toLong, img.width.toLong, img.height.toLong,
          img.gray.length.toLong, img.gray.foldLeft(0L)(_ + _),
          img.gray.count(_ < 128).toLong)
      }
    }.toDF("id", "frame_no", "width", "height", "n_px", "sum_lum", "n_dark")
  }

  /** 64-bit aHash per sampled keyframe through the REAL decoder — the
    * [[perceptualHashes]] formula applied per (video, frame): 8×8
    * nearest-neighbor resample, integer mean threshold, two u32 halves.
    * Frames that fail to decode are dropped.
    */
  def keyframeHashes(frames: Dataset[MediaFrame]): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.flatMap { fr =>
      decodeGray(fr.frame).map { img =>
        val s = new Array[Long](64)
        var y = 0
        while (y < 8) {
          val sy = y * img.height / 8
          var x = 0
          while (x < 8) {
            s(y * 8 + x) = img.gray(sy * img.width + x * img.width / 8).toLong
            x += 1
          }
          y += 1
        }
        val sum = s.sum
        var lo = 0L; var hi = 0L; var k = 0
        while (k < 64) {
          if (64L * s(k) >= sum) {
            if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
          }
          k += 1
        }
        (fr.id, fr.frame_no.toLong, lo, hi)
      }
    }.toDF("id", "frame_no", "h_lo", "h_hi")
  }

  /** Perceptual-duplicate videos over [[keyframeHashes]]: pairs (a < b)
    * whose sampled keyframes match POSITIONALLY on every frame (same
    * frame count, equal aHash at each sampled frame_no). The join is a
    * plain equi-join on (frame_no, hash) — candidates ∝ true hash
    * collisions, never |videos|², so this is the scale path as-is: at
    * 100 TB the (frame_no, h_lo, h_hi) shuffle key spreads uniformly
    * unless the corpus is degenerate (all-flat frames), the same
    * hot-chunk caveat as [[phashPairsBanded]].
    */
  def videoTwins(hashes: DataFrame): DataFrame = {
    // The hash table is referenced four times (two join sides + two
    // frame-count joins); cache it so the expensive upstream (container
    // walk + per-frame decode) runs ONE pass, not four. cache() not
    // localCheckpoint: lazy — composing this operator must not trigger
    // a job (the r4-audited hidden-driver-action rule). CACHE
    // LIFECYCLE: the block stays registered for the session until the
    // caller unpersists (`spark.catalog.clearCache()` or
    // `.unpersist()` on this frame) — the Verify/Bench harnesses
    // already clear between queries; long-lived sessions composing
    // many twin scans should clear explicitly or the storage pool
    // will pressure other operators' resident checkpoints.
    val h = hashes.cache()
    val nf = h.groupBy("id").agg(count(lit(1)).as("n"))
    val a = h.toDF("a", "frame_no", "h_lo", "h_hi")
    val b = h.toDF("b", "frame_no", "h_lo", "h_hi")
    a.join(b, Seq("frame_no", "h_lo", "h_hi"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_match"))
      .join(nf.toDF("a", "na"), Seq("a"))
      .join(nf.toDF("b", "nb"), Seq("b"))
      .where(col("n_match") === col("na") && col("na") === col("nb"))
      .select(col("a"), col("b"), col("n_match"))
  }

  /** Deterministic REAL audio corpus: one RIFF/WAVE container per
    * document — 16-bit signed little-endian PCM mono at 8 kHz,
    * `((doc_id mod 4) + 1)·256` samples, sample(i) = ((doc_id·37 +
    * i·17) mod 65536) − 32768 — a formula any engine can recompute, so
    * the container parse + PCM decode is hash-verifiable (the q88/q142
    * pattern for the third modality).
    */
  def syntheticAudio(docs: DataFrame, sampleRate: Int = 8000): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val n = ((((id % 4) + 4) % 4).toInt + 1) * 256
        val data = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val v = ((((id * 37 + i * 17) % 65536) + 65536) % 65536).toInt - 32768
          data(2 * i) = (v & 0xff).toByte
          data(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        def le32(x: Int): Unit = {
          bos.write(x & 0xff); bos.write((x >> 8) & 0xff)
          bos.write((x >> 16) & 0xff); bos.write((x >> 24) & 0xff)
        }
        def le16(x: Int): Unit = { bos.write(x & 0xff); bos.write((x >> 8) & 0xff) }
        bos.write("RIFF".getBytes("US-ASCII")); le32(36 + data.length)
        bos.write("WAVE".getBytes("US-ASCII"))
        bos.write("fmt ".getBytes("US-ASCII")); le32(16)
        le16(1) /* PCM */ ; le16(1) /* mono */ ; le32(sampleRate)
        le32(sampleRate * 2) /* byte rate */ ; le16(2) /* block align */
        le16(16) /* bits */
        bos.write("data".getBytes("US-ASCII")); le32(data.length)
        bos.write(data)
        MediaRow(id, "audio", bos.toByteArray,
          Map("codec" -> "pcm_s16le", "rate" -> sampleRate.toString))
      }
    }
  }

  /** `samples` is CHANNEL-INTERLEAVED frames (the WAV data layout):
    * frame f's channel c sample is `samples(f * channels + c)`, and the
    * array is truncated to whole frames. Mono ⇒ samples are the signal.
    */
  case class DecodedAudio(sampleRate: Int, channels: Int, samples: Array[Int])

  /** REAL RIFF/WAVE parse: verify the RIFF/WAVE signature, walk the
    * chunk stream (4-byte id + LE u32 size + payload, word-aligned),
    * read `fmt ` (require PCM format 1, 16-bit, ≥1 channel, and a
    * consistent block align of channels×2 — an inconsistent block align
    * means the frame layout is not what the header claims) and `data`,
    * decode the little-endian signed samples. Unknown chunks are
    * SKIPPED by size — real WAV files carry LIST/fact/cue chunks and a
    * parser that assumes fmt-then-data breaks on them. Returns None on
    * anything malformed ([[decodeGray]]'s quarantine posture).
    */
  def decodePcm(content: Array[Byte]): Option[DecodedAudio] = {
    def le32(o: Int): Long =
      (content(o) & 0xffL) | ((content(o + 1) & 0xffL) << 8) |
        ((content(o + 2) & 0xffL) << 16) | ((content(o + 3) & 0xffL) << 24)
    def le16(o: Int): Int = (content(o) & 0xff) | ((content(o + 1) & 0xff) << 8)
    def tag(o: Int): String = new String(content, o, 4, "US-ASCII")
    if (content.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE") None
    else {
      var o = 12
      var fmt: Option[(Int, Int, Int)] = None // (format, channels, rate)
      var bits = 0
      var blockAlign = 0
      var data: Option[(Int, Int)] = None // (offset, size)
      var ok = true
      while (ok && o + 8 <= content.length && (fmt.isEmpty || data.isEmpty)) {
        val id = tag(o)
        val size = le32(o + 4)
        val body = o + 8
        if (size < 0 || body + size > content.length) ok = false
        else {
          if (id == "fmt " && size >= 16) {
            fmt = Some((le16(body), le16(body + 2), le32(body + 4).toInt))
            blockAlign = le16(body + 12)
            bits = le16(body + 14)
          } else if (id == "data") data = Some((body, size.toInt))
          o = body + size.toInt + (size.toInt & 1) // chunks are word-aligned
        }
      }
      for {
        (format, channels, rate) <- fmt
        if ok && format == 1 && bits == 16 && channels >= 1 &&
          blockAlign == channels * 2
        (off, sz) <- data
      } yield {
        // whole frames only: a truncated final frame is dropped, not
        // half-decoded
        val n = (sz / (2 * channels)) * channels
        val samples = new Array[Int](n)
        var i = 0
        while (i < n) {
          samples(i) = ((content(off + 2 * i) & 0xff) |
            (content(off + 2 * i + 1) << 8)).toShort.toInt
          i += 1
        }
        DecodedAudio(rate, channels, samples)
      }
    }
  }

  /** Exact integer signal stats through the REAL PCM decoder — the audio
    * analogue of [[imageStats]]: (id, sample_rate, n_samples, sum_abs,
    * peak_abs). `n_samples` counts FRAMES (per-channel sample count),
    * and `sum_abs`/`peak_abs` aggregate over every channel's samples —
    * channel-agnostic signal magnitudes; for per-channel analysis
    * de-interleave [[decodePcm]]'s output directly. For the mono case
    * the distinction vanishes. Rows whose payload doesn't parse as
    * 16-bit PCM WAV are dropped (row-count mismatch, never silent).
    */
  def audioStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      decodePcm(r.content).map { a =>
        var sumAbs = 0L; var peak = 0L
        a.samples.foreach { s => val v = math.abs(s.toLong); sumAbs += v; if (v > peak) peak = v }
        (r.id, a.sampleRate.toLong, (a.samples.length / a.channels).toLong, sumAbs, peak)
      }
    }.toDF("id", "sample_rate", "n_samples", "sum_abs", "peak_abs")
  }

  /** Fixed-length audio segmentation (the VAD / ASR-chunking primitive):
    * split each decoded signal into consecutive whole chunks of
    * `chunkFrames` frames and emit exact integer energy stats per chunk
    * — (id, chunk_no, n_frames, sum_abs, peak_abs), channel-agnostic
    * like [[audioStats]]. A trailing partial chunk is DROPPED (whole
    * chunks only — the same whole-units posture as the frame-truncation
    * rule in [[decodePcm]]); callers wanting the tail pad upstream.
    * Per-partition decode + local chunk loop: embarrassingly parallel,
    * no shuffle, output rows ∝ total audio duration / chunk length.
    */
  def audioChunks(media: DataFrame, chunkFrames: Int): DataFrame = {
    require(chunkFrames > 0, s"chunkFrames must be positive; got $chunkFrames")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      decodePcm(r.content).toSeq.flatMap { a =>
        val frames = a.samples.length / a.channels
        (0 until frames / chunkFrames).map { c =>
          var sumAbs = 0L; var peak = 0L
          var i = c * chunkFrames * a.channels
          val end = (c + 1) * chunkFrames * a.channels
          while (i < end) {
            val v = math.abs(a.samples(i).toLong)
            sumAbs += v; if (v > peak) peak = v
            i += 1
          }
          (r.id, c.toLong, chunkFrames.toLong, sumAbs, peak)
        }
      }
    }.toDF("id", "chunk_no", "n_frames", "sum_abs", "peak_abs")
  }

  /** Shot-boundary (cut) detection over [[keyframeHashes]] output: for
    * each video, consecutive sampled keyframes are compared by exact
    * aHash Hamming distance; a jump of ≥ `cutBits` differing bits marks
    * a cut. Emits EVERY consecutive pair with its distance plus the
    * 0/1 cut flag so downstream thresholds can be re-derived without a
    * re-decode. One window over (id ORDER BY frame_no) — a single
    * shuffle keyed on video id, state per video ∝ sampled frames, no
    * pairwise blowup anywhere.
    */
  def shotBoundaries(hashes: DataFrame, cutBits: Int): DataFrame = {
    require(cutBits >= 0 && cutBits <= 64, s"cutBits must be in [0, 64]; got $cutBits")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("frame_no")
    hashes
      .withColumn("from_frame", lag(col("frame_no"), 1).over(w))
      .withColumn("p_lo", lag(col("h_lo"), 1).over(w))
      .withColumn("p_hi", lag(col("h_hi"), 1).over(w))
      .where(col("from_frame").isNotNull)
      .select(col("id"), col("from_frame"), col("frame_no").as("to_frame"),
        (bit_count(col("h_lo").bitwiseXOR(col("p_lo"))) +
          bit_count(col("h_hi").bitwiseXOR(col("p_hi")))).cast("long").as("hamming"))
      .withColumn("is_cut", when(col("hamming") >= cutBits, 1L).otherwise(0L))
  }

  /** Frame sampling for OPAQUE `video` payloads: every `stride`-th
    * 64-byte slice of the payload stands in for a frame — the byte-
    * budget fallback when the payload is not a container this engine
    * can walk (for real keyframes over PNG-concat containers use
    * [[sampleKeyframes]]). Emits (id, frame_no, frame) rows.
    */
  def sampleFrames(media: DataFrame, stride: Int = 4): Dataset[MediaFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].filter(_.kind == "video").flatMap { r =>
      val frameSize = 64
      val nFrames = math.max(1, r.content.length / frameSize)
      (0 until nFrames by stride).map { f =>
        val from = f * frameSize
        val until = math.min(r.content.length, from + frameSize)
        MediaFrame(r.id, f, java.util.Arrays.copyOfRange(r.content, from, until))
      }
    }
  }

  /** Byte-budget clamp for OPAQUE payloads (truncate to a fixed budget,
    * preserving metadata) — the cheap pre-filter when payloads are not
    * decodable media. For real pixel resampling of decodable images use
    * [[resizeDecoded]].
    */
  def resizeImages(media: DataFrame, budget: Int = 256): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].map { r =>
      if (r.kind != "image" || r.content.length <= budget) r
      else r.copy(content = java.util.Arrays.copyOfRange(r.content, 0, budget),
        meta = r.meta + ("resized" -> "true"))
    }
  }
}
