package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.KmvSketch.md5Hex

/** Multimodal-column plumbing (builder mandate; no reference counterpart).
  *
  * Images/audio/video are opaque `binary` columns plus a typed metadata
  * struct. IMAGES are real: mm01/mm05 encode genuine grayscale PNGs with
  * `javax.imageio` and run an actual decode, with the oracle certifying
  * the round-trip pixel-for-pixel. AUDIO/VIDEO decode stays STUBBED —
  * this container has no A/V codecs — with a deterministic fake
  * (hash-derived features), clearly marked below. Everything Spark-side
  * is real either way: schema, batch shape, partitioning, frame
  * sampling, and feature extraction run exactly as a real decoder UDF
  * would slot in.
  *
  * Scale notes: binary payloads ride in the row; at 100 TB the pattern is
  * unchanged — per-row decode is shuffle-free, and frame explosion
  * multiplies rows BEFORE any aggregation, so downstream ops see a
  * well-partitioned frame table without repartitioning.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** Synthetic media ingest: the documents' UTF-8 bytes stand in for an
    * encoded media payload (deterministic, no codec needed).
    */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"),
      struct(
        lit("application/octet-stream").as("mime"),
        octet_length(col("text")).cast("bigint").as("nbytes"),
        col("source").as("origin")).as(("meta")))

  /** Genuine PNG payloads: each document's bytes become the pixels of a
    * REAL 8-bit grayscale PNG (width 16, height ⌊nbytes/16⌋, tail bytes
    * truncated — truncation, not padding, so the oracle's substr replays
    * the pixel source exactly).
    *
    * BYTE-TRUE oracles (r12, closing the r11 ASCII boundary for the
    * core png family): mm05/mm08/mm15/mm16's DuckDB replays now slice
    * HEX PAIRS of the UTF-8 bytes (`hex(encode(text))`, 2 chars = 1
    * byte; sizes via `strlen`) and fingerprint md5 over the HEX STRING
    * of the byte slice — this DuckDB build has no BLOB md5/substring,
    * so hex is the one byte-faithful domain both engines share. The
    * Spark sides hash `hexUpper(bytes)` to match. These four hold on
    * ANY corpus — verified against a planted multibyte corpus (é/漢/π
    * docs) in r12, Spark vs DuckDB bit-equal on all four.
    *
    * ASCII-corpus assumption (REMAINING char-replay family: mm01/mm04/
    * mm06/mm10/mm12…): those oracles still replay with character
    * `length`/`substring`/`chr`, identical to byte semantics only
    * while the corpus is ASCII (which the synthetic documents table
    * is). `OperatorInvariantSpec`'s "png-family ASCII boundary" test
    * keeps that gate explicit, and pins mm05's byte-true behavior on a
    * planted multibyte doc.
    *
    * `content` holds actual encoder output
    * (`javax.imageio`), not a fake: mm01/mm05 then round-trip it through
    * a real decode, and the DuckDB hash-compare over the SOURCE bytes
    * certifies the decode was lossless pixel-for-pixel.
    *
    * Scale: encode is a map-side pass (the mapPartitions shape a
    * production ingest uses for any codec); payload never shuffles.
    */
  /** Encode row-major grayscale pixels (width 16) as real PNG bytes. */
  private def encodeGrayPng(px: Array[Byte]): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false) // no tmp-file churn
    val h = px.length / 16
    val img = new java.awt.image.BufferedImage(
      16, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < 16) {
        raster.setSample(x, y, 0, px(y * 16 + x) & 0xff)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  def pngTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    t(s, d, "documents").select(col("doc_id"), col("text"))
      // spread FIRST (the dd20 rule): the parquet corpus is one input
      // split, so the per-row PNG encode — and every decode pipeline
      // downstream of it — would run at parallelism 1 on a 32-core
      // session (mm05 measured two ~1 s single-task stages)
      .transform(graft.Par.spread)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val h = bytes.length / 16
          if (h == 0) Iterator.empty
          else Iterator((id, encodeGrayPng(bytes.take(16 * h)),
            bytes.length.toLong))
        }
      }.toDF("media_id", "content", "src_nbytes")
  }

  /** Decode a grayscale PNG back to (width, height, row-major pixel
    * bytes) with `javax.imageio` — the REAL decode mm01/mm05 run on.
    */
  private def decodeGray(png: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    val out = new Array[Byte](w * h)
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out(i) = raster.getSample(x, y, 0).toByte
        i += 1; x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  /** (media_id, w, h) of every [[pngTable]] image, read off its
    * `javax.imageio` decode — the dims pass of mm11, mm16 and mm17. */
  private def imageDims(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pngTable(s, d).select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, png) =>
          val (w, h, _) = decodeGray(png)
          (id, w.toLong, h.toLong)
        }
      }.toDF("media_id", "w", "h")
  }

  /** The payload as 32-byte frames: (media_id, content, fi) for every
    * `every`-th frame index fi of each non-empty media row. The
    * zero-byte guard keeps sequence(0, -1), which descends in Spark and
    * is empty in DuckDB's generate_series, out of the explode. */
  private def frames(s: SparkSession, d: String, every: Int): DataFrame =
    mediaTable(s, d)
      .filter(col("meta.nbytes") > 0)
      .withColumn("n_frames",
        ceil(col("meta.nbytes").cast("double") / 32.0).cast("int"))
      .select(col("media_id"), col("content"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(every))).as("fi"))

  /** mm06/mm09's per-frame (media_id, fi BIGINT, energy): the STUB
    * decode, a byte sum standing in for frame RMS energy (ASCII payload
    * — char ords ARE the bytes; empty split artifacts dropped). */
  private def frameEnergy(s: SparkSession, d: String): DataFrame =
    frames(s, d, 1)
      .withColumn("frame",
        substring(col("content"), col("fi") * 32 + 1, lit(32)))
      .withColumn("energy", expr(
        """aggregate(transform(
          |  filter(split(CAST(frame AS STRING), ''), c -> c <> ''),
          |  c -> CAST(ascii(c) AS BIGINT)), 0L, (a, x) -> a + x)""".stripMargin))
      .select(col("media_id"), col("fi").cast("bigint").as("fi"),
        col("energy"))

  /** The planted-twin image pass of mm07, mm13 and pp20: each
    * document's bytes as a 16-wide grayscale image (media_id = doc_id)
    * plus its perturbed re-encode (every 7th pixel +1, media_id + 10⁶),
    * both genuinely PNG-encoded and decoded; `perImage(media_id, w, h,
    * pixels)` maps each decoded raster to one output row.
    *
    * Spread FIRST: the documents scan is 1-2 input splits (AQE
    * coalesces the small text input), so the encode→decode kernel —
    * the priciest per-row work in this file — would otherwise run at
    * input parallelism.
    */
  private def twinImages[T: Encoder](s: SparkSession, d: String)(
      perImage: (Long, Int, Int, Array[Byte]) => T): Dataset[T] = {
    import s.implicits._
    t(s, d, "documents").select(col("doc_id"), col("text"))
      .transform(graft.Par.spread)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val h = bytes.length / 16
          if (h == 0) Iterator.empty
          else {
            val px = bytes.take(16 * h)
            val pert = px.zipWithIndex.map { case (b, i) =>
              if (i % 7 == 0) (b + 1).toByte else b }
            Seq((id, px), (id + 1000000L, pert)).iterator.map {
              case (mid, p) =>
                val (w, hh, dec) = decodeGray(encodeGrayPng(p))
                perImage(mid, w, hh, dec)
            }
          }
        }
      }
  }

  /** Uppercase hex of raw bytes — DuckDB's hex(BLOB) form. The
    * mm05/mm08/mm15 fingerprints hash THIS string rather than the raw
    * slice: this DuckDB build has no BLOB md5/substring, so hex is the
    * one byte-faithful domain both engines can slice and hash on ANY
    * corpus (multibyte included) — the r11 verdict's byte-slice item.
    */
  private def hexUpper(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append(f"${b & 0xff}%02X"))
    sb.toString
  }

  /** md5 of the hex form — the byte-true fingerprint. */
  private def md5HexOfHex(bytes: Array[Byte]): String =
    md5Hex(hexUpper(bytes).getBytes("UTF-8"))

  /** Difference hash (dHash) of a w×h grayscale raster on the 9×8
    * floor-boundary block grid: bit (gx, gy) = mean(cell gx) >
    * mean(cell gx+1), compared by INTEGER cross-multiplication
    * (sumA·nB > sumB·nA — no division, so the DuckDB replay is exact;
    * empty cells on short images compare false deterministically).
    * MSB order = gy*8 + gx, emitted as a 64-char '0'/'1' string.
    */
  private def dHash(w: Int, h: Int, px: Array[Byte]): String = {
    val sums = Array.ofDim[Long](9, 8)
    val cnts = Array.ofDim[Long](9, 8)
    var y = 0
    while (y < h) {
      val gy = ((y + 1) * 8 - 1) / h
      var x = 0
      while (x < w) {
        val gx = ((x + 1) * 9 - 1) / w
        sums(gx)(gy) += (px(y * w + x) & 0xff)
        cnts(gx)(gy) += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Char](64)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        val bit = sums(gx)(gy) * cnts(gx + 1)(gy) >
          sums(gx + 1)(gy) * cnts(gx)(gy)
        out(gy * 8 + gx) = if (bit) '1' else '0'
        gx += 1
      }
      gy += 1
    }
    new String(out)
  }

  /** mm01: ingest + REAL image decode (round-4 verdict item 8). The
    * content column is a genuine PNG ([[pngTable]]); width, height,
    * mean luma and the pixel fingerprint all come from the
    * `javax.imageio` decoded raster. The oracle derives the same values
    * from the source bytes — equality holds iff the encode→decode
    * round-trip is pixel-exact, so the hash-compare is a lossless-decode
    * proof, not a replay of a stub. (The md5 STUB boundary now only
    * remains where the container genuinely lacks codecs: audio/video in
    * mm02-mm04, mm06.)
    */
  private val mm01IngestMeta: Q = (s, d) => {
    import s.implicits._
    pngTable(s, d).as[(Long, Array[Byte], Long)]
      .mapPartitions { it =>
        it.map { case (id, png, srcN) =>
          val (w, h, px) = decodeGray(png)
          var lumaSum = 0L
          var i = 0
          while (i < px.length) { lumaSum += (px(i) & 0xff); i += 1 }
          (id, srcN, w.toLong, h.toLong, lumaSum, md5Hex(px))
        }
      }
      .toDF("media_id", "nbytes", "width", "height", "luma_sum", "decoded_fp")
      .select(col("media_id"), lit("image/png").as("mime"), col("nbytes"),
        col("width"), col("height"),
        round(col("luma_sum").cast("double") /
          (col("width") * col("height")), 2).as("mean_luma"),
        col("decoded_fp"))
      .orderBy("media_id")
  }

  /** mm10: CORRUPT-MEDIA QUARANTINE — the ingest-hardening step every
    * media pipeline runs before its decode-dependent ops (mm01/mm05/
    * mm07/mm08 all assume decodable payloads): structurally validate,
    * attempt a REAL decode, and route failures to a quarantine row with
    * a reason — never an exception that kills the job. Corruption is
    * PLANTED deterministically on the genuine PNG payloads: media_id
    * % 7 == 1 overwrites the 8-byte signature (a mis-typed blob);
    * % 7 == 2 truncates mid-IHDR (an interrupted upload); % 7 == 3
    * overwrites the post-IHDR chunk length with 0xFFFFFFFF (structural
    * bit rot). Failure semantics measured on this JDK's decoder: bad
    * signature → reader lookup yields null; header truncation / chunk
    * length → IIOException — both handled per row. Two rejected
    * plantings, for the record: tail truncation DECODES (Java's PNG
    * reader tolerates a short IDAT), and CRC flips DECODE (it skips
    * checksum verification) — and a zlib-content flip is unreliable
    * (a flip inside a stored deflate block alters pixels without
    * erroring), which is why the planted corruptions target container
    * structure only.
    *
    * Accepted rows emit real decoded dims + the pixel fingerprint (the
    * mm01 lossless-decode proof); quarantined rows emit the reason.
    * The oracle re-derives the verdict from the planting rule and the
    * accepted values from the source bytes, so hash equality proves the
    * quarantine caught EXACTLY the planted rows — a clean payload that
    * failed decode, or a corrupted one that slipped through, would both
    * break the compare. Scale: per-row map work, zero shuffle;
    * sentinel -1/'' instead of NULL keeps the cross-engine sort total.
    */
  private val mm10Quarantine: Q = (s, d) => {
    import s.implicits._
    pngTable(s, d).as[(Long, Array[Byte], Long)]
      .mapPartitions { it =>
        it.map { case (id, png0, _) =>
          val png = (id % 7) match {
            case 1 => val a = png0.clone(); a(0) = 0; a
            case 2 => java.util.Arrays.copyOf(png0, 24)
            case 3 =>
              val a = png0.clone()
              for (i <- 33 to 36) a(i) = 0xff.toByte
              a
            case _ => png0
          }
          val magicOk = png.length >= 8 && png(0) == 0x89.toByte &&
            png(1) == 'P'.toByte && png(2) == 'N'.toByte &&
            png(3) == 'G'.toByte && png(4) == 0x0d.toByte &&
            png(5) == 0x0a.toByte && png(6) == 0x1a.toByte &&
            png(7) == 0x0a.toByte
          if (!magicOk) (id, "quarantined", "bad_magic", -1L, -1L, "")
          else try {
            val (w, h, px) = decodeGray(png)
            (id, "ok", "", w.toLong, h.toLong, md5Hex(px))
          } catch {
            case _: Throwable =>
              (id, "quarantined", "decode_error", -1L, -1L, "")
          }
        }
      }
      .toDF("media_id", "status", "reason", "width", "height", "px_md5")
      .orderBy("media_id")
  }

  /** mm02: frame sampling — split the payload into fixed 32-byte "frames",
    * keep every 4th (the video-keyframe pattern); per-frame STUB feature.
    * posexplode keeps frame index; substring on binary is codegen'd.
    */
  private val mm02FrameSample: Q = (s, d) =>
    frames(s, d, 4)
      .select(
        col("media_id"), col("fi").cast("bigint").as("frame_idx"),
        octet_length(substring(col("content"), col("fi") * 32 + 1,
          lit(32))).cast("bigint").as("frame_bytes"),
        md5(substring(col("content"), col("fi") * 32 + 1,
          lit(32))).as("frame_fp") // STUB decode
      )
      .orderBy("media_id", "frame_idx")

  /** mm03: batched "decode-resize" shape — the mapInPandas/mapInArrow
    * analogue in Scala: mapPartitions over typed rows, emitting fixed-size
    * feature vectors. The decode body is the STUB (deterministic bytes →
    * fake 8-dim feature); the partition-batch shape is the real contract.
    */
  private val mm03BatchDecode: Q = (s, d) => {
    import s.implicits._
    val rows = mediaTable(s, d)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
    rows.mapPartitions { it =>
      it.map { case (id, bytes) =>
        // STUB decode: real impl would decode media and pool pixels;
        // the fake derives 8 deterministic doubles from byte sums.
        val feat = Array.tabulate(8) { i =>
          var acc = 0L
          var j = i
          while (j < bytes.length) { acc += (bytes(j) & 0xff); j += 8 }
          acc.toDouble
        }
        (id, feat)
      }
    }.toDF("media_id", "feature")
      .select(col("media_id"),
        round(aggregate(col("feature"), lit(0.0), (a, x) => a + x), 2)
          .as("feature_sum"))
      .orderBy("media_id")
  }

  /** mm04: A/V SYNC — align each audio chunk to the latest video
    * keyframe at-or-before it per media stream: the timestamp-alignment
    * join a multimodal training pipeline runs before fusing modalities.
    * Video keyframes = mm02's every-4th 32-byte frame at 25 fps
    * (ts = frame_idx × 40 ms); audio = 24-byte chunks at chunk_idx ×
    * 30 ms. Composed on [[JoinOps.asofJoin]] (marker-union, ONE shuffle
    * keyed by media_id, no per-row lookups — the scale shape). The fused
    * feature is STUB md5(audio_fp ‖ frame_fp) where a real pipeline
    * concatenates embeddings; chunk 0 and frame 0 share ts 0, so every
    * chunk has a match and the join is total. Oracle: DuckDB native
    * ASOF JOIN over the same deterministic chunk/frame tables.
    */
  private val mm04AvSync: Q = (s, d) => {
    val media = mediaTable(s, d)
      // zero-byte guard: sequence(0,-1) descends in Spark, empty in DuckDB
      .filter(col("meta.nbytes") > 0)
    val video = frames(s, d, 4)
      .select(col("media_id"),
        (col("fi").cast("bigint") * 40).as("ts"),
        col("fi").cast("bigint").as("frame_idx"),
        md5(substring(col("content"), col("fi") * 32 + 1, lit(32)))
          .as("frame_fp")) // STUB decode (see mm01)
    val audio = media
      .withColumn("n_chunks",
        ceil(col("meta.nbytes").cast("double") / 24.0).cast("int"))
      .select(col("media_id"), col("content"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("ci"))
      .select(col("media_id"),
        (col("ci").cast("bigint") * 30).as("ts"),
        col("ci").cast("bigint").as("chunk_idx"),
        md5(substring(col("content"), col("ci") * 24 + 1, lit(24)))
          .as("audio_fp")) // STUB decode (see mm01)
    JoinOps.asofJoin(audio, video, "media_id", "ts",
        Seq("frame_idx", "frame_fp"))
      .select(col("media_id"), col("chunk_idx"), col("ts").as("ts_audio"),
        col("asof_frame_idx").as("frame_idx"),
        (col("asof_frame_idx") * 40).as("ts_video"),
        (col("ts") - col("asof_frame_idx") * 40).as("sync_lag_ms"),
        md5(concat(col("audio_fp"), col("asof_frame_fp"))).as("fused_fp"))
      .orderBy("media_id", "chunk_idx")
  }

  /** mm07: PERCEPTUAL-HASH IMAGE DEDUP (dHash) — near-duplicate image
    * detection over GENUINELY DECODED pixels: every original and its
    * perturbed re-encode (every 7th pixel +1 — the "same photo,
    * slightly reprocessed" case byte-exact dedup misses by design) is
    * encoded as its own real PNG, decoded with `javax.imageio`, and
    * hashed with the classic 9×8 block-mean difference hash. Twin pairs
    * land ≤3 bits apart while next-image controls sit ≥17 (mean 32), so
    * the ≤6 threshold separates cleanly; the oracle replays pixels,
    * perturbation, integer block sums, cross-multiplied comparisons and
    * hamming — certifying the decode AND the hash arithmetic.
    *
    * Scale: encode/decode/hash is one map-side pass per image; only
    * (id, 64-char hash) rows reach the joins, and pairing is an
    * equijoin on the planted offset. A production variant buckets the
    * hash prefix (the dd04 banding) instead of planted offsets.
    */
  private def mm07PerceptualDedup: Q = (s, d) => {
    import s.implicits._
    // spread + EAGER checkpoint (the dd20/ss20 rule): the decode pass
    // feeds both sides of the twin AND control joins (4 plan refs) — a
    // lazy persist re-ran the PNG encode/decode per reference, and
    // AQE's byte-based advisory coalesces the small text input to ~2
    // partitions without the explicit repartition
    val hashes = twinImages(s, d) { (mid, w, hh, dec) =>
        (mid, dHash(w, hh, dec))
      }.toDF("media_id", "dhash")
      .localCheckpoint() // eager: twin AND control joins consume both sides
    val a = hashes.filter(col("media_id") < 1000000L)
      .select(col("media_id").as("media_a"), col("dhash").as("ha"))
    val b = hashes.filter(col("media_id") >= 1000000L)
      .select(col("media_id").as("media_b"), col("dhash").as("hb"))
    val twin = a.join(b, col("media_b") === col("media_a") + lit(1000000L))
      .withColumn("pair_type", lit("twin"))
    val ctrl = a.join(b, col("media_b") === col("media_a") + lit(1000001L))
      .withColumn("pair_type", lit("control"))
    twin.unionAll(ctrl)
      .withColumn("hamming", expr(
        """CAST(size(filter(sequence(1, 64),
          |  i -> substring(ha, i, 1) <> substring(hb, i, 1))) AS BIGINT)"""
          .stripMargin))
      .withColumn("is_dup", col("hamming") <= lit(6))
      .select("media_a", "media_b", "pair_type", "hamming", "is_dup")
      .orderBy("media_a", "media_b")
  }

  /** mm13: BANDED HAMMING DISCOVERY over the dHash — mm07 verifies
    * near-dup pairs it already KNOWS (planted offsets); this is the
    * production discovery path its scaladoc promises: 8 byte-bands
    * over the 64-bit hash, candidates = any shared band, verify =
    * popcount ≤ 6. The recall guarantee is EXACT, not probabilistic:
    * a pair ≤ 7 bits apart touches at most 7 bands, so at least one
    * of 8 is identical (pigeonhole) — banding loses nothing below the
    * threshold, unlike minhash banding's S-curve. Planted twins (≤ 3
    * bits, mm07's measurement) are all recovered; anything else the
    * bands surface is a genuine ≤6-bit coincidence, flagged unplanted.
    *
    * Scale: only (band, byte value, id) triples shuffle; the verify is
    * codegen bit_count over BIGINT hashes and runs BEFORE the pair
    * distinct (survivors are output-sized; the raw candidate multiset
    * is not). Never all-pairs — but low-texture corpora concentrate
    * mass in a few band values ('00000000' holds 15% of images here);
    * the production knob at corpus scale is capping hot band values
    * (dropping a band value never loses a pair below 8−(bands shared)
    * bits; re-verify capped values against the exact-duplicate groupBy
    * instead).
    */
  private def mm13HammingSearch: Q = (s, d) => {
    import s.implicits._
    // the 64-bit hash rides as a BIGINT: bands are unsigned shifts and
    // the verify is bit_count(xor) — whole-stage codegen, where the
    // 64-step substring HOF per pair evaluated interpreted (the dd18
    // rule) and cost 20 s at sf0.1 over the ~6M raw band candidates
    val hashes = twinImages(s, d) { (mid, w, hh, dec) =>
        (mid, java.lang.Long.parseUnsignedLong(dHash(w, hh, dec), 2))
      }.toDF("media_id", "dh")
      // EAGER, not lazy persist: three consumers (band explode + two
      // verify rejoins) race the cache fill and each re-ran the decode
      // pipeline at input parallelism (the dd20/ss20 lesson)
      .localCheckpoint()
    val bands = hashes.select(col("media_id"), posexplode(expr(
      "transform(sequence(0, 7), b -> shiftrightunsigned(dh, 8 * b) & 255)")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bval")
    // verify BEFORE the pair-level distinct: survivors (~7k at sf0.1)
    // dedupe for free where the raw ~6M candidate multiset would need
    // its own exchange; the hash side stays small enough that AQE
    // broadcasts it (un-hinted — at corpus scale it shuffle-joins, and
    // the production knob is capping hot band values, noted below)
    bands
      .join(bands.select(col("band"), col("bval"),
        col("media_id").as("mb")), Seq("band", "bval"))
      .filter(col("media_id") < col("mb"))
      .select(col("media_id").as("media_a"), col("mb").as("media_b"))
      .join(hashes.select(col("media_id").as("media_a"),
        col("dh").as("ha")), Seq("media_a"))
      .join(hashes.select(col("media_id").as("media_b"),
        col("dh").as("hb")), Seq("media_b"))
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("hamming") <= 6)
      .select("media_a", "media_b", "hamming")
      .distinct()
      .withColumn("planted",
        col("media_b") === col("media_a") + lit(1000000L))
      .orderBy("media_a", "media_b")
  }

  /** mm14: NEAR-DUP IMAGE KEEP-SET — the image-side dd10: mm13's
    * discovered ≤6-bit pairs grouped by connected components
    * (min-label propagation), one canonical per group (lowest
    * media_id — the original beats its re-encodes by id construction),
    * every other member marked for drop. pp20 deduped EXACT dHash
    * matches only; this closes the gap it documents (the hamming-1..6
    * stragglers) with the same keep-set contract dedup pipelines
    * consume.
    *
    * Scale: pairs from mm13's banded path (never all-pairs), CC rounds
    * on the pair graph only, the keep flag a projection.
    */
  private def mm14NeardupKeepset: Q = (s, d) => {
    // eager checkpoint BEFORE the CC loop: each propagation round
    // references the edge list, and without it every round re-executes
    // the whole mm13 discovery pipeline (decode + band join) — OOM'd at
    // sf0.1 (the CLAUDE.md iterative-loop rule)
    val pairs = mm13HammingSearch(s, d)
      .select(col("media_a").as("a"), col("media_b").as("b"))
      .localCheckpoint()
    val base = t(s, d, "documents")
      .filter(length(col("text")) >= 16).select(col("doc_id"))
    val nodes = base.select(col("doc_id").as("id"))
      .unionAll(base.select((col("doc_id") + 1000000L).as("id")))
    // star contraction, not min-label propagation: hamming chains give
    // this graph real diameter, and each propagation round costs a full
    // job — O(log n) rounds beat O(diameter) here (A/B'd at sf0.1)
    val labels = graft.operators.Dedup.connectedComponentsStar(nodes, pairs)
    labels.groupBy("label")
      .agg(count(lit(1)).as("group_size"), collect_list("id").as("ids"))
      .select(explode(col("ids")).as("media_id"),
        col("label").as("group_rep"), col("group_size"))
      .withColumn("keep", col("media_id") === col("group_rep"))
      .orderBy("media_id")
  }

  /** pp20: MEDIA CURATION PIPELINE — pp01's flagship shape for images,
    * with the decode genuinely in the loop: ingest (originals +
    * perturbed re-encodes) → one decode pass per image emitting size,
    * luma sum, SQUARED sum and dHash → quality gate (min height 4, and
    * integer-exact contrast n·Σv² − (Σv)² ≥ 870·n² — flat images out)
    * → perceptual dedup (first media_id per exact dHash — most
    * perturbed re-encodes hash identically and drop; the hamming-1..3
    * stragglers survive, the honest exact-bucket boundary mm07's pair
    * view measures) → per-source dataset card. All pixel statistics are
    * integers until the final rounded mean, so DuckDB replays decode
    * stats, gate, dedup and card bit-for-bit.
    *
    * Scale: the decode pass is map-side; the card shuffles only
    * (source, counters) and dedup shuffles (dhash, id) — never pixels.
    */
  private def pp20MediaCuration: Q = (s, d) => {
    import s.implicits._
    val src = t(s, d, "documents").select(
      col("doc_id").as("base_id"), col("source"))
    val stats = twinImages(s, d) { (mid, w, hh, dec) =>
        var s1 = 0L
        var s2 = 0L
        var i = 0
        while (i < dec.length) {
          val v = (dec(i) & 0xff).toLong
          s1 += v; s2 += v * v; i += 1
        }
        (mid, hh.toLong, dec.length.toLong, s1, s2, dHash(w, hh, dec))
      }.toDF("media_id", "h", "n", "luma_sum", "sq_sum", "dhash")
      // src is one row per media item (corpus-sized at scale) — plain
      // shuffle join on the derived base id; AQE broadcasts at small SF
      .join(src, pmod(col("media_id"), lit(1000000L)) === col("base_id"))
      // EAGER (the dd20/ss20 rule): the final plan references this
      // decode pass 3× (raw/gated/admitted aggregates) — a lazy
      // persist re-ran the decode per reference before the cache fills
      .localCheckpoint()
    val gated = stats.filter(col("h") >= 4 &&
      col("n") * col("sq_sum") - col("luma_sum") * col("luma_sum") >=
        lit(870L) * col("n") * col("n"))
    val admitted = gated
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("dhash").orderBy("media_id")))
      .filter(col("rn") === 1)
    val raw = stats.groupBy("source").agg(count(lit(1)).as("n_raw"))
    val gat = gated.groupBy("source").agg(count(lit(1)).as("n_gated"))
    val adm = admitted.groupBy("source").agg(
      count(lit(1)).as("n_admitted"),
      round(sum("luma_sum").cast("double") / sum("n"), 2).as("mean_luma"))
    raw.join(gat, Seq("source"), "left").join(adm, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_gated"), lit(0L)).as("n_gated"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
        col("mean_luma"))
      .orderBy("source")
  }

  /** mm08: THUMBNAIL GENERATION over genuinely decoded pixels — the
    * resize step every image-training pipeline runs between decode and
    * model input. The 16×h raster (real `javax.imageio` decode of the
    * real PNG) is 2×2 average-pooled to 8×⌊h/2⌋ with INTEGER floor
    * division per cell (odd tail row truncated, the mm01 rule) — no
    * float resampling, so the DuckDB replay from the SOURCE bytes is
    * exact, and hash equality certifies decode + pooling together.
    * Pooled values of ASCII sources stay ≤127, which is what lets the
    * oracle rebuild the thumbnail bytes with chr() and md5 them.
    *
    * Scale: per-row mapPartitions (the batched-decode contract of
    * mm03); pixels never shuffle — only (id, dims, luma, md5) leave the
    * executor.
    */
  private val mm08Thumbnail: Q = (s, d) => {
    import s.implicits._
    pngTable(s, d).as[(Long, Array[Byte], Long)]
      .mapPartitions { it =>
        it.flatMap { case (id, png, _) =>
          val (_, h, px) = decodeGray(png)
          val th = h / 2
          if (th == 0) Iterator.empty
          else {
            val tb = new Array[Byte](8 * th)
            var luma = 0L
            var ty = 0
            while (ty < th) {
              var tx = 0
              while (tx < 8) {
                val v = ((px(2 * ty * 16 + 2 * tx) & 0xff) +
                  (px(2 * ty * 16 + 2 * tx + 1) & 0xff) +
                  (px((2 * ty + 1) * 16 + 2 * tx) & 0xff) +
                  (px((2 * ty + 1) * 16 + 2 * tx + 1) & 0xff)) / 4
                tb(ty * 8 + tx) = v.toByte
                luma += v
                tx += 1
              }
              ty += 1
            }
            Iterator((id, 8L, th.toLong, luma, md5HexOfHex(tb)))
          }
        }
      }.toDF("media_id", "t_width", "t_height", "t_luma_sum", "thumb_fp")
      .orderBy("media_id")
  }

  /** mm15: LETTERBOX-CROP PLANNER over real decodes — the border-trim
    * pass a vision ingest runs before patching: flat (single-valued)
    * pixel rows at the top/bottom of a frame are letterbox bars and
    * encoder padding, carrying zero training signal while costing
    * patch-grid area (the mm11 waste, spent on blackness). Letterboxed
    * media are PLANTED deterministically (media_id mod 4 == 0 encodes
    * with 3 constant rows above and below — the mm10/mm12 planting
    * discipline); every image is then REALLY decoded (`javax.imageio`)
    * and scanned: leading/trailing all-equal rows trim, and the crop
    * box is emitted with the retained-share ×10⁴ plus an md5 over the
    * CROPPED pixel bytes — hash equality against the oracle's
    * source-byte replay certifies decode + trim together (the mm08
    * rule: ASCII pixels round-trip, so chr()-rebuilt strings md5 the
    * same bytes).
    *
    * Scale: encode/decode/scan is one mapPartitions pass; pixels never
    * shuffle — only the crop box and a 32-char fingerprint leave the
    * executor.
    */
  private val mm15LetterboxCrop: Q = (s, d) => {
    import s.implicits._
    t(s, d, "documents").select(col("doc_id"), col("text"))
      .transform(graft.Par.spread) // the pngTable spread rule
      .as[(Long, String)]
      .mapPartitions { it =>
        val pad = Array.fill(48)(' '.toByte)
        it.flatMap { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val h0 = bytes.length / 16
          if (h0 == 0) Iterator.empty
          else {
            val raster = bytes.take(16 * h0)
            val px0 = if (id % 4 == 0) pad ++ raster ++ pad else raster
            val (_, h, px) = decodeGray(encodeGrayPng(px0))
            def flat(y: Int): Boolean = {
              val c = px(y * 16)
              var x = 1
              while (x < 16 && px(y * 16 + x) == c) x += 1
              x == 16
            }
            var top = 0
            while (top < h && flat(top)) top += 1
            var bottom = 0
            if (top < h)
              while (bottom < h - top && flat(h - 1 - bottom)) bottom += 1
            val ch = h - top - bottom
            val cropped = java.util.Arrays.copyOfRange(
              px, top * 16, (top + ch) * 16)
            Iterator((id, h.toLong, top.toLong, bottom.toLong, ch.toLong,
              ch.toLong * 10000L / h, md5HexOfHex(cropped)))
          }
        }
      }.toDF("media_id", "h_padded", "top_trim", "bottom_trim",
        "h_cropped", "retained_x10k", "crop_fp")
      .orderBy("media_id")
  }

  /** mm11: ASPECT-BUCKET / PAD-WASTE AUDIT over real decodes — the
    * table a vision-training pipeline sizes its resize buckets from:
    * every image's REAL decoded dimensions (`javax.imageio`, same
    * decode as mm01) bucketed by aspect band (h div w), each band
    * reporting its population, height range, and the PADDING OVERHEAD
    * a patch-aligned batcher would pay (heights rounded up to the
    * 8-pixel patch grid: (padded − src)·10⁴ div src) — aspect
    * bucketing exists precisely to keep that waste down (NaViT-style
    * variable-resolution packing decides against fixed-resize with
    * exactly this number). Oracle derives dimensions from the source
    * bytes, so hash equality re-certifies the decode.
    *
    * Scale: decode is the mapPartitions ingest shape (payload never
    * shuffles); everything after is a counter-only band aggregate.
    */
  private def mm11AspectBuckets: Q = (s, d) => {
    import s.implicits._
    val dims = imageDims(s, d)
    dims
      .withColumn("band", expr("h div w"))
      .withColumn("padded_h", expr("((h + 7) div 8) * 8"))
      .groupBy("band").agg(
        count(lit(1)).as("n_images"),
        min("h").as("min_h"), max("h").as("max_h"),
        sum(expr("w * h")).as("src_px"),
        sum(expr("w * padded_h")).as("padded_px"))
      .withColumn("pad_overhead_x10k",
        expr("(padded_px - src_px) * 10000 div src_px"))
      .orderBy("band")
  }

  /** mm16: PATCH-BUDGET BATCH PACKER over real decodes — the NaViT-
    * style variable-resolution batcher mm11 prices buckets for: within
    * each aspect band, images are packed next-fit (arrival order, the
    * streaming-loader fold pp36/pp38 established) into batches holding
    * at most 128 patch tokens (patches = ⌈h/8⌉·⌈w/8⌉ from the REAL
    * `javax.imageio` decode), and the report prices each band's
    * batching: batch count vs the ⌈Σpatches/128⌉ lower bound and the
    * patch-slot waste a fixed-budget step pays. This is the table that
    * decides the band granularity — too-coarse bands mix heights and
    * waste slots, too-fine bands strand tail batches.
    *
    * Scale: decode is the one mapPartitions ingest pass (pixels never
    * shuffle — only (id, h) leaves the executor); the fold is the
    * pp36 stateful-sequential shape keyed by band (parallelism =
    * bands; at 100 TB the stream key is (band, shard), same contract
    * as pp38's (source, shard)). DuckDB replays the fold per band as a
    * recursive CTE over source-byte-derived dims, so hash equality
    * re-certifies decode + packing end to end.
    */
  private val mm16PatchBatches: Q = (s, d) => {
    import s.implicits._
    val budget = 128L
    val dims = imageDims(s, d)
      .withColumn("band", expr("h div 16"))
      .withColumn("patches", expr("((h + 7) div 8) * ((w + 7) div 8)"))
      .repartition(col("band"))
      .localCheckpoint() // 2 refs: the fold pass + the band totals
    val packed = dims.select("band", "media_id", "patches")
      .sortWithinPartitions("band", "media_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curBand = Long.MinValue
        var batch = 0L
        var fill = 0L
        it.map { case (band, id, p) =>
          if (band != curBand) { curBand = band; batch = 0L; fill = p }
          else if (fill + p <= budget) fill += p
          else { batch += 1L; fill = p }
          (band, id, p, batch)
        }
      }.toDF("band", "media_id", "patches", "batch_id")
    val byBand = packed.groupBy("band", "batch_id")
      .agg(sum("patches").as("bp"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_batches"),
        sum(greatest(lit(0L), lit(budget) - col("bp")))
          .as("waste_patches"))
    dims.groupBy("band")
      .agg(count(lit(1)).as("n_images"),
        sum("patches").as("total_patches"))
      .withColumn("lb_batches",
        expr(s"(total_patches + ${budget - 1}) div $budget"))
      .join(byBand, Seq("band"))
      .select(col("band"), col("n_images"), col("total_patches"),
        col("lb_batches"), col("n_batches"), col("waste_patches"),
        expr(s"waste_patches * 10000 DIV (n_batches * $budget)")
          .as("waste_x10k"))
      .orderBy("band")
  }

  /** mm17: VLM SAMPLE PACKER — the batcher a vision-LANGUAGE loader
    * actually runs, composing mm16's patch accounting with the tx34
    * tokenizer: each document is an (image, caption) sample whose
    * context cost is patch tokens (⌈h/8⌉·⌈w/8⌉ from the REAL decode;
    * 0 for the text-only docs too short to raster) PLUS real subword
    * tokens, packed next-fit in (source, doc_id) arrival order into
    * 512-token contexts (the pp36 stream fold keyed by source). The
    * report prices each source's batching — batch count vs the
    * ⌈Σcost/512⌉ bound, slot waste, and the image share of the spend
    * (img_share_x10k), the number that decides patch budgets vs text
    * budgets when the two modalities compete for one context.
    *
    * Scale: decode is the one mapPartitions ingest pass (only (id, h,
    * w) leaves the executor); the subword kernel is a per-row scan;
    * the fold is the pp36 stateful-sequential shape keyed by source
    * ((source, shard) at 100 TB). DuckDB replays dims from source
    * bytes, the tokenizer training, and the fold per source as a
    * recursive CTE — one hash certifies decode + tokenizer + packing.
    */
  private val mm17VlmBatches: Q = (s, d) => {
    import s.implicits._
    val budget = 512L
    val spec = graft.operators.TextAnalysis.bpeSpecFor(s, d)
    val dims = imageDims(s, d)
      .withColumn("patches", expr("((h + 7) div 8) * ((w + 7) div 8)"))
    val sized = t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.GraftFunctions.bpe_subword_count(col("text"), spec)
          .as("stok"))
      .join(dims.select(col("media_id").as("doc_id"), col("patches")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("stok"),
        coalesce(col("patches"), lit(0L)).as("patches"))
      .withColumn("cost", col("patches") + col("stok"))
      .repartition(col("source"))
      .sortWithinPartitions("source", "doc_id")
      .localCheckpoint() // 2 refs: the fold pass + the source totals
    val packed = sized
      .select("source", "doc_id", "cost")
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        var curSrc: String = null
        var batch = 0L
        var fill = 0L
        it.map { case (src, id, c) =>
          if (src != curSrc) { curSrc = src; batch = 0L; fill = c }
          else if (fill + c <= budget) fill += c
          else { batch += 1L; fill = c }
          (src, id, c, batch)
        }
      }.toDF("source", "doc_id", "cost", "batch_id")
    val bySrc = packed.groupBy("source", "batch_id")
      .agg(sum("cost").as("bc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_batches"),
        sum(greatest(lit(0L), lit(budget) - col("bc"))).as("waste_slots"))
    sized.groupBy("source")
      .agg(count(lit(1)).as("n_samples"),
        sum("patches").as("patch_tokens"),
        sum("stok").as("text_tokens"),
        sum("cost").as("total_tokens"))
      .withColumn("lb_batches",
        expr(s"(total_tokens + ${budget - 1}) div $budget"))
      .join(bySrc, Seq("source"))
      .select(col("source"), col("n_samples"), col("patch_tokens"),
        col("text_tokens"), col("total_tokens"), col("lb_batches"),
        col("n_batches"), col("waste_slots"),
        expr(s"waste_slots * 10000 DIV (n_batches * $budget)")
          .as("waste_x10k"),
        expr("patch_tokens * 10000 DIV total_tokens")
          .as("img_share_x10k"))
      .orderBy("source")
  }

  /** mm12: DUPLICATE-FRAME RUN COLLAPSE — the static-scene detector a
    * video ingest runs before feature extraction: consecutive frames
    * with identical content fingerprints collapse to one keyframe per
    * run (slides, paused screens, and freeze-frames otherwise flood a
    * training set with near-zero-information frames). Frozen scenes are
    * PLANTED deterministically (media_id mod 5 == 0 reads its frame
    * content at the triple-quantized offset (fi div 3)·3 — every frame
    * triple identical, the mm10 planting discipline); per media the
    * report gives frames, runs, longest run and the static-frame share
    * ×10⁴ — exact integers the oracle replays end to end.
    *
    * Scale: frame explode is per-media; the run machinery is lag +
    * running-sum windows PARTITIONED BY media (parallel across media,
    * never a global sort); only 32-char fingerprints ride the exchanges.
    */
  private val mm12FrameRunCollapse: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("media_id").orderBy("fi")
    val fps = frames(s, d, 1)
      .withColumn("src_fi",
        when(col("media_id") % 5 === 0, expr("(fi div 3) * 3"))
          .otherwise(col("fi")))
      .select(col("media_id"), col("fi"),
        md5(substring(col("content"), col("src_fi") * 32 + 1, lit(32)))
          .as("fp"))
    val runs = fps
      .withColumn("is_new",
        when(lag("fp", 1).over(w).isNull ||
          lag("fp", 1).over(w) =!= col("fp"), 1L).otherwise(0L))
      .withColumn("run_id", sum("is_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("media_id", "run_id")
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy("media_id")
      .agg(sum("run_len").as("n_frames"),
        count(lit(1)).as("n_runs"),
        max("run_len").as("longest_run"))
      .selectExpr("media_id", "n_frames", "n_runs", "longest_run",
        "(n_frames - n_runs) * 10000 DIV n_frames AS static_x10k")
      .orderBy("media_id")
  }

  val queries: Map[String, Q] = Map(
    "mm12_frame_runs" -> mm12FrameRunCollapse,
    "mm11_aspect_buckets" -> mm11AspectBuckets,
    "mm16_patch_batches" -> mm16PatchBatches,
    "mm17_vlm_batches" -> mm17VlmBatches,
    "mm08_thumbnail" -> mm08Thumbnail,
    "mm15_letterbox_crop" -> mm15LetterboxCrop,
    "mm01_media_ingest" -> mm01IngestMeta,
    "mm10_media_quarantine" -> mm10Quarantine,
    "mm02_frame_sample" -> mm02FrameSample,
    "mm03_batch_decode" -> mm03BatchDecode,
    "mm04_av_sync" -> mm04AvSync,
    "mm05_patch_grid" -> mm05PatchGrid,
    "mm06_energy_segments" -> mm06EnergySegments,
    "mm07_perceptual_dedup" -> mm07PerceptualDedup,
    "mm13_hamming_search" -> mm13HammingSearch,
    "mm14_neardup_keepset" -> mm14NeardupKeepset,
    "mm09_keyframes" -> mm09Keyframes,
    "pp20_media_curation" -> pp20MediaCuration,
  )

  /** mm05: ViT-style PATCH GRID over GENUINELY DECODED pixels (round-4
    * verdict item 8): the image is a real PNG ([[pngTable]]), decoded
    * with `javax.imageio`, and each 4×4 patch gathers 16 bytes from the
    * decoded raster — the tokenization step of a vision transformer
    * pipeline, with the decode no longer stubbed. Ragged tail rows
    * (height not a multiple of 4) are truncated, mirroring the encoder's
    * width-16 truncation, so the oracle's substr over the source bytes
    * replays the exact gather. STUB boundary: only the patch EMBEDDING
    * (md5 in place of a ViT — no model in this container); the pixels
    * are real decoder output, certified lossless by the hash-compare.
    *
    * Scale: decode + patching is one map-side pass per image (the batch
    * shape a Pandas-UDF decoder has); the patch table inherits the scan
    * partitioning, no shuffle before downstream aggregation.
    */
  private def mm05PatchGrid: Q = (s, d) => {
    import s.implicits._
    pngTable(s, d).as[(Long, Array[Byte], Long)]
      .mapPartitions { it =>
        it.flatMap { case (id, png, _) =>
          val (w, h, px) = decodeGray(png)
          for (pr <- 0 until h / 4; pc <- 0 until w / 4) yield {
            val patch = new Array[Byte](16)
            var k = 0
            var ry = 0
            while (ry < 4) {
              var rx = 0
              while (rx < 4) {
                patch(k) = px((pr * 4 + ry) * w + pc * 4 + rx)
                k += 1; rx += 1
              }
              ry += 1
            }
            (id, pr.toLong, pc.toLong, 16L, md5HexOfHex(patch))
          }
        }
      }
      .toDF("media_id", "patch_row", "patch_col", "patch_bytes", "patch_fp")
      .orderBy("media_id", "patch_row", "patch_col")
  }

  /** mm06: ENERGY-BASED SEGMENTATION — the voice-activity-detection
    * shape: per-frame "energy" (byte sum over a 32-byte frame — the STUB
    * for a real RMS over PCM samples), threshold into active frames,
    * merge CONSECUTIVE active frames into segments via the
    * islands-and-gaps trick (frame_idx − dense run index is constant
    * within a run — the same window pattern st01 sessionization uses,
    * reapplied to media). Per-doc windows partition by media_id, so the
    * pass scales with frames per document, not corpus size.
    */
  private def mm06EnergySegments: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val active = frameEnergy(s, d).filter(col("energy") >= 2400) // ~ASCII avg * 32 * 0.8
    val wRun = Window.partitionBy("media_id").orderBy("fi")
    active
      .withColumn("grp", col("fi") - row_number().over(wRun))
      .groupBy("media_id", "grp")
      .agg(min("fi").as("seg_start"), max("fi").as("seg_end"),
        count(lit(1)).as("n_frames"),
        sum("energy").as("seg_energy"))
      .select(col("media_id"), col("seg_start"), col("seg_end"),
        col("n_frames"), col("seg_energy"))
      .orderBy("media_id", "seg_start")
  }

  /** mm09: KEYFRAME SELECTION (shot-boundary shape) — per 4-frame
    * window, keep the frame with the maximal inter-frame change (the
    * representative a video pipeline extracts before embedding/dedup;
    * mm07 then dedups the keyframes, not every frame). Change signal =
    * |energy(fi) − energy(fi−1)| on the mm06 STUB energy (byte sum —
    * no video codec in this container); the lag + windowed-argmax
    * plumbing is the real contract and is all-integer, so both engines
    * agree exactly. First frame of each doc scores 0 (no predecessor).
    *
    * Scale: frames inherit the scan partitioning; both windows key on
    * media_id — ONE exchange, and the per-window argmax keeps 1-in-4
    * rows before anything downstream.
    */
  private def mm09Keyframes: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val wLag = Window.partitionBy("media_id").orderBy("fi")
    val wArg = Window.partitionBy("media_id", "win")
      .orderBy(col("delta").desc, col("fi"))
    frameEnergy(s, d)
      .withColumn("delta",
        abs(col("energy") - coalesce(lag("energy", 1).over(wLag),
          col("energy"))))
      .withColumn("win", expr("fi DIV 4"))
      .withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("media_id"), col("win").as("window_id"),
        col("fi").as("keyframe_idx"), col("delta").as("scene_delta"))
      .orderBy("media_id", "window_id")
  }

  // All queries oracle-check: the payload is the documents' ASCII bytes
  // (verified pure-ASCII in the driver corpus), so DuckDB's
  // character-level substr/md5/ord replay Spark's byte-level binary ops
  // exactly — and for mm01/mm05, replay the PIXEL SOURCE that the PNG
  // round-trip must reproduce byte-for-byte.
  val oracleSql: Map[String, String] = Map(
    "pp20_media_curation" ->
      """WITH g AS (SELECT doc_id AS mid,
        |    substring(text, 1, (length(text) // 16) * 16) AS px,
        |    CAST(length(text) // 16 AS BIGINT) AS h
        |  FROM documents WHERE length(text) >= 16),
        |imgs AS (
        |  SELECT mid AS media_id, px, h, 0 AS pert FROM g
        |  UNION ALL SELECT mid + 1000000, px, h, 1 FROM g),
        |ys AS (SELECT media_id, px, h, pert,
        |    unnest(generate_series(0, CAST(h AS INT) - 1)) AS y FROM imgs),
        |pix AS (SELECT media_id, h, y, xs.x AS x,
        |    ord(substr(px, y * 16 + xs.x + 1, 1)) +
        |      CASE WHEN pert = 1 AND (y * 16 + xs.x) % 7 = 0
        |           THEN 1 ELSE 0 END AS v
        |  FROM ys CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs),
        |stats AS (SELECT media_id, max(h) AS h, count(*) AS n,
        |    CAST(sum(v) AS BIGINT) AS luma_sum,
        |    CAST(sum(v * v) AS BIGINT) AS sq_sum
        |  FROM pix GROUP BY media_id),
        |cells AS (SELECT media_id, ((x + 1) * 9 - 1) // 16 AS gx,
        |    ((y + 1) * 8 - 1) // h AS gy,
        |    CAST(sum(v) AS BIGINT) AS s, count(*) AS n
        |  FROM pix GROUP BY 1, 2, 3),
        |grid AS (SELECT i.media_id, gxs.gx, gys.gy,
        |    coalesce(c.s, 0) AS s, coalesce(c.n, 0) AS n
        |  FROM (SELECT DISTINCT media_id FROM imgs) i
        |  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS gx) gxs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS gy) gys
        |  LEFT JOIN cells c ON c.media_id = i.media_id
        |    AND c.gx = gxs.gx AND c.gy = gys.gy),
        |bits AS (SELECT a.media_id, a.gy * 8 + a.gx AS idx,
        |    CASE WHEN a.s * b.n > b.s * a.n THEN '1' ELSE '0' END AS bit
        |  FROM grid a JOIN grid b ON b.media_id = a.media_id
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |dh AS (SELECT media_id, string_agg(bit, '' ORDER BY idx) AS dhash
        |  FROM bits GROUP BY media_id),
        |fl AS (SELECT s.media_id, s.h, s.n, s.luma_sum, s.sq_sum,
        |    d.dhash, sr.source
        |  FROM stats s JOIN dh d USING (media_id)
        |  JOIN (SELECT doc_id AS base_id, source FROM documents) sr
        |    ON sr.base_id = s.media_id % 1000000),
        |gated AS (SELECT * FROM fl
        |  WHERE h >= 4
        |    AND n * sq_sum - luma_sum * luma_sum >= 870 * n * n),
        |admitted AS (SELECT * FROM (SELECT *,
        |    row_number() OVER (PARTITION BY dhash ORDER BY media_id) AS rn
        |  FROM gated) WHERE rn = 1),
        |raw AS (SELECT source, count(*) AS n_raw FROM fl GROUP BY source),
        |gat AS (SELECT source, count(*) AS n_gated FROM gated
        |  GROUP BY source),
        |adm AS (SELECT source, count(*) AS n_admitted,
        |    round(CAST(sum(luma_sum) AS DOUBLE) / sum(n), 2) AS mean_luma
        |  FROM admitted GROUP BY source)
        |SELECT raw.source, raw.n_raw,
        |  coalesce(gat.n_gated, 0) AS n_gated,
        |  coalesce(adm.n_admitted, 0) AS n_admitted, adm.mean_luma
        |FROM raw LEFT JOIN gat USING (source) LEFT JOIN adm USING (source)
        |ORDER BY raw.source""".stripMargin,
    // mm14: mm13's discovery replay + the dd10 recursive-CTE CC and
    // keep-set rollup
    "mm14_neardup_keepset" ->
      """WITH RECURSIVE g AS (SELECT doc_id AS mid,
        |    substring(text, 1, (length(text) // 16) * 16) AS px,
        |    CAST(length(text) // 16 AS BIGINT) AS h
        |  FROM documents WHERE length(text) >= 16),
        |imgs AS (
        |  SELECT mid AS media_id, px, h, 0 AS pert FROM g
        |  UNION ALL SELECT mid + 1000000, px, h, 1 FROM g),
        |ys AS (SELECT media_id, px, h, pert,
        |    unnest(generate_series(0, CAST(h AS INT) - 1)) AS y FROM imgs),
        |pix AS (SELECT media_id, h, y, xs.x AS x,
        |    ord(substr(px, y * 16 + xs.x + 1, 1)) +
        |      CASE WHEN pert = 1 AND (y * 16 + xs.x) % 7 = 0
        |           THEN 1 ELSE 0 END AS v
        |  FROM ys CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs),
        |cells AS (SELECT media_id, ((x + 1) * 9 - 1) // 16 AS gx,
        |    ((y + 1) * 8 - 1) // h AS gy,
        |    CAST(sum(v) AS BIGINT) AS s, count(*) AS n
        |  FROM pix GROUP BY 1, 2, 3),
        |grid AS (SELECT i.media_id, gxs.gx, gys.gy,
        |    coalesce(c.s, 0) AS s, coalesce(c.n, 0) AS n
        |  FROM (SELECT DISTINCT media_id FROM imgs) i
        |  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS gx) gxs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS gy) gys
        |  LEFT JOIN cells c ON c.media_id = i.media_id
        |    AND c.gx = gxs.gx AND c.gy = gys.gy),
        |bits AS (SELECT a.media_id, a.gy * 8 + a.gx AS idx,
        |    CASE WHEN a.s * b.n > b.s * a.n THEN '1' ELSE '0' END AS bit
        |  FROM grid a JOIN grid b ON b.media_id = a.media_id
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |dh AS MATERIALIZED (SELECT media_id,
        |    string_agg(bit, '' ORDER BY idx) AS dhash
        |  FROM bits GROUP BY media_id),
        |bands AS (SELECT media_id, b.b AS band,
        |    substr(dhash, b.b * 8 + 1, 8) AS bval
        |  FROM dh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) b),
        |cand AS (SELECT DISTINCT a.media_id AS media_a,
        |    c.media_id AS media_b
        |  FROM bands a JOIN bands c ON c.band = a.band
        |    AND c.bval = a.bval AND a.media_id < c.media_id),
        |hm AS (SELECT media_a, media_b,
        |    CAST(len([i for i in generate_series(1, 64)
        |              if substr(da.dhash, i, 1) <> substr(db.dhash, i, 1)])
        |      AS BIGINT) AS hamming
        |  FROM cand JOIN dh da ON da.media_id = cand.media_a
        |    JOIN dh db ON db.media_id = cand.media_b),
        |dup AS MATERIALIZED (SELECT media_a AS a, media_b AS b
        |  FROM hm WHERE hamming <= 6),
        |nodes AS (SELECT media_id AS id FROM imgs),
        |sym AS (SELECT a, b FROM dup UNION ALL SELECT b, a FROM dup),
        |r AS (SELECT id, id AS label FROM nodes
        |  UNION
        |  SELECT s.b AS id, r.label FROM r JOIN sym s ON s.a = r.id),
        |lab AS MATERIALIZED (SELECT id, min(label) AS group_rep
        |  FROM r GROUP BY id)
        |SELECT l.id AS media_id, l.group_rep, g2.cnt AS group_size,
        |  (l.id = l.group_rep) AS keep
        |FROM lab l JOIN (SELECT group_rep, CAST(count(*) AS BIGINT)
        |    AS cnt FROM lab GROUP BY 1) g2 USING (group_rep)
        |ORDER BY media_id""".stripMargin,
    // mm13: mm07's pixel/dHash replay + the band self-join and
    // popcount verify; planted flag recomputed from the id offset
    "mm13_hamming_search" ->
      """WITH g AS (SELECT doc_id AS mid,
        |    substring(text, 1, (length(text) // 16) * 16) AS px,
        |    CAST(length(text) // 16 AS BIGINT) AS h
        |  FROM documents WHERE length(text) >= 16),
        |imgs AS (
        |  SELECT mid AS media_id, px, h, 0 AS pert FROM g
        |  UNION ALL SELECT mid + 1000000, px, h, 1 FROM g),
        |ys AS (SELECT media_id, px, h, pert,
        |    unnest(generate_series(0, CAST(h AS INT) - 1)) AS y FROM imgs),
        |pix AS (SELECT media_id, h, y, xs.x AS x,
        |    ord(substr(px, y * 16 + xs.x + 1, 1)) +
        |      CASE WHEN pert = 1 AND (y * 16 + xs.x) % 7 = 0
        |           THEN 1 ELSE 0 END AS v
        |  FROM ys CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs),
        |cells AS (SELECT media_id, ((x + 1) * 9 - 1) // 16 AS gx,
        |    ((y + 1) * 8 - 1) // h AS gy,
        |    CAST(sum(v) AS BIGINT) AS s, count(*) AS n
        |  FROM pix GROUP BY 1, 2, 3),
        |grid AS (SELECT i.media_id, gxs.gx, gys.gy,
        |    coalesce(c.s, 0) AS s, coalesce(c.n, 0) AS n
        |  FROM (SELECT DISTINCT media_id FROM imgs) i
        |  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS gx) gxs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS gy) gys
        |  LEFT JOIN cells c ON c.media_id = i.media_id
        |    AND c.gx = gxs.gx AND c.gy = gys.gy),
        |bits AS (SELECT a.media_id, a.gy * 8 + a.gx AS idx,
        |    CASE WHEN a.s * b.n > b.s * a.n THEN '1' ELSE '0' END AS bit
        |  FROM grid a JOIN grid b ON b.media_id = a.media_id
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |dh AS MATERIALIZED (SELECT media_id,
        |    string_agg(bit, '' ORDER BY idx) AS dhash
        |  FROM bits GROUP BY media_id),
        |bands AS (SELECT media_id, b.b AS band,
        |    substr(dhash, b.b * 8 + 1, 8) AS bval
        |  FROM dh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) b),
        |cand AS (SELECT DISTINCT a.media_id AS media_a,
        |    c.media_id AS media_b
        |  FROM bands a JOIN bands c ON c.band = a.band
        |    AND c.bval = a.bval AND a.media_id < c.media_id),
        |hm AS (SELECT media_a, media_b,
        |    CAST(len([i for i in generate_series(1, 64)
        |              if substr(da.dhash, i, 1) <> substr(db.dhash, i, 1)])
        |      AS BIGINT) AS hamming
        |  FROM cand JOIN dh da ON da.media_id = cand.media_a
        |    JOIN dh db ON db.media_id = cand.media_b)
        |SELECT media_a, media_b, hamming,
        |  (media_b = media_a + 1000000) AS planted
        |FROM hm WHERE hamming <= 6
        |ORDER BY media_a, media_b""".stripMargin,
    "mm07_perceptual_dedup" ->
      """WITH g AS (SELECT doc_id AS mid,
        |    substring(text, 1, (length(text) // 16) * 16) AS px,
        |    CAST(length(text) // 16 AS BIGINT) AS h
        |  FROM documents WHERE length(text) >= 16),
        |imgs AS (
        |  SELECT mid AS media_id, px, h, 0 AS pert FROM g
        |  UNION ALL SELECT mid + 1000000, px, h, 1 FROM g),
        |ys AS (SELECT media_id, px, h, pert,
        |    unnest(generate_series(0, CAST(h AS INT) - 1)) AS y FROM imgs),
        |pix AS (SELECT media_id, h, y, xs.x AS x,
        |    ord(substr(px, y * 16 + xs.x + 1, 1)) +
        |      CASE WHEN pert = 1 AND (y * 16 + xs.x) % 7 = 0
        |           THEN 1 ELSE 0 END AS v
        |  FROM ys CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs),
        |cells AS (SELECT media_id, ((x + 1) * 9 - 1) // 16 AS gx,
        |    ((y + 1) * 8 - 1) // h AS gy,
        |    CAST(sum(v) AS BIGINT) AS s, count(*) AS n
        |  FROM pix GROUP BY 1, 2, 3),
        |grid AS (SELECT i.media_id, gxs.gx, gys.gy,
        |    coalesce(c.s, 0) AS s, coalesce(c.n, 0) AS n
        |  FROM (SELECT DISTINCT media_id FROM imgs) i
        |  CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS gx) gxs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS gy) gys
        |  LEFT JOIN cells c ON c.media_id = i.media_id
        |    AND c.gx = gxs.gx AND c.gy = gys.gy),
        |bits AS (SELECT a.media_id, a.gy * 8 + a.gx AS idx,
        |    CASE WHEN a.s * b.n > b.s * a.n THEN '1' ELSE '0' END AS bit
        |  FROM grid a JOIN grid b ON b.media_id = a.media_id
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |dh AS (SELECT media_id, string_agg(bit, '' ORDER BY idx) AS dhash
        |  FROM bits GROUP BY media_id),
        |p AS (
        |  SELECT a.media_id AS media_a, b.media_id AS media_b,
        |    'twin' AS pair_type, a.dhash AS ha, b.dhash AS hb
        |  FROM dh a JOIN dh b ON b.media_id = a.media_id + 1000000
        |  WHERE a.media_id < 1000000
        |  UNION ALL
        |  SELECT a.media_id, b.media_id, 'control', a.dhash, b.dhash
        |  FROM dh a JOIN dh b ON b.media_id = a.media_id + 1000001
        |  WHERE a.media_id < 1000000),
        |hm AS (SELECT media_a, media_b, pair_type,
        |    CAST(len([i for i in generate_series(1, 64)
        |              if substr(ha, i, 1) <> substr(hb, i, 1)]) AS BIGINT)
        |      AS hamming
        |  FROM p)
        |SELECT media_a, media_b, pair_type, hamming,
        |  (hamming <= 6) AS is_dup
        |FROM hm ORDER BY media_a, media_b""".stripMargin,
    "mm09_keyframes" ->
      """WITH f AS (SELECT doc_id AS media_id, text,
        |    unnest(generate_series(0,
        |      CAST(ceil(length(text) / 32.0) AS BIGINT) - 1)) AS fi
        |  FROM documents),
        |e AS (SELECT media_id, fi,
        |    CAST(list_sum(list_transform(
        |      string_split(substring(text, CAST(fi * 32 + 1 AS INT), 32), ''),
        |      c -> ord(c))) AS BIGINT) AS energy
        |  FROM f),
        |dl AS (SELECT media_id, fi, energy,
        |    abs(energy - coalesce(lag(energy) OVER (
        |      PARTITION BY media_id ORDER BY fi), energy)) AS delta,
        |    fi // 4 AS win
        |  FROM e),
        |rk AS (SELECT media_id, win, fi, delta,
        |    row_number() OVER (PARTITION BY media_id, win
        |      ORDER BY delta DESC, fi) AS rn
        |  FROM dl)
        |SELECT media_id, win AS window_id, fi AS keyframe_idx,
        |  delta AS scene_delta
        |FROM rk WHERE rn = 1 ORDER BY media_id, window_id""".stripMargin,
    "mm06_energy_segments" ->
      """WITH f AS (SELECT doc_id AS media_id, text,
        |    unnest(generate_series(0,
        |      CAST(ceil(length(text) / 32.0) AS BIGINT) - 1)) AS fi
        |  FROM documents),
        |e AS (SELECT media_id, fi,
        |    CAST(list_sum(list_transform(
        |      string_split(substring(text, CAST(fi * 32 + 1 AS INT), 32), ''),
        |      c -> ord(c))) AS BIGINT) AS energy
        |  FROM f),
        |a AS (SELECT media_id, fi, energy,
        |    fi - row_number() OVER (PARTITION BY media_id ORDER BY fi)
        |      AS grp
        |  FROM e WHERE energy >= 2400)
        |SELECT media_id, min(fi) AS seg_start, max(fi) AS seg_end,
        |  count(*) AS n_frames, CAST(sum(energy) AS BIGINT) AS seg_energy
        |FROM a GROUP BY media_id, grp ORDER BY media_id, seg_start""".stripMargin,
    // BYTE-TRUE replay (r12): slices move from characters to hex pairs
    // of the UTF-8 bytes (2 hex chars = 1 byte), so the oracle holds on
    // ANY corpus — the fingerprint domain is md5(hex(bytes)) on both
    // sides (this DuckDB has no BLOB md5/substring; hex is the one
    // byte-faithful domain both engines share)
    "mm05_patch_grid" ->
      """WITH g AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS hb,
        |    CAST(strlen(text) // 16 AS BIGINT) AS h
        |  FROM documents WHERE strlen(text) >= 16),
        |pr AS (SELECT media_id, hb,
        |    unnest(generate_series(0, h // 4 - 1)) AS pr
        |  FROM g),
        |pp AS (SELECT media_id, hb, pr,
        |    unnest(generate_series(0, 3)) AS pc FROM pr),
        |p AS (SELECT media_id, pr, pc,
        |    substring(hb, CAST(((pr * 4 + 0) * 16 + pc * 4) * 2 + 1 AS INT), 8)
        |    || substring(hb, CAST(((pr * 4 + 1) * 16 + pc * 4) * 2 + 1 AS INT), 8)
        |    || substring(hb, CAST(((pr * 4 + 2) * 16 + pc * 4) * 2 + 1 AS INT), 8)
        |    || substring(hb, CAST(((pr * 4 + 3) * 16 + pc * 4) * 2 + 1 AS INT), 8)
        |      AS patch
        |  FROM pp)
        |SELECT media_id, pr AS patch_row, pc AS patch_col,
        |  CAST(length(patch) // 2 AS BIGINT) AS patch_bytes,
        |  md5(patch) AS patch_fp
        |FROM p ORDER BY media_id, patch_row, patch_col""".stripMargin,
    "mm04_av_sync" ->
      """WITH video AS (
        |  SELECT doc_id AS media_id, fi * 40 AS ts,
        |    CAST(fi AS BIGINT) AS frame_idx,
        |    md5(substring(text, CAST(fi * 32 + 1 AS INT), 32)) AS frame_fp
        |  FROM (SELECT doc_id, text,
        |      unnest(generate_series(0,
        |        CAST(ceil(length(text) / 32.0) AS BIGINT) - 1, 4)) AS fi
        |    FROM documents)),
        |audio AS (
        |  SELECT doc_id AS media_id, ci * 30 AS ts,
        |    CAST(ci AS BIGINT) AS chunk_idx,
        |    md5(substring(text, CAST(ci * 24 + 1 AS INT), 24)) AS audio_fp
        |  FROM (SELECT doc_id, text,
        |      unnest(generate_series(0,
        |        CAST(ceil(length(text) / 24.0) AS BIGINT) - 1)) AS ci
        |    FROM documents))
        |SELECT a.media_id, a.chunk_idx, CAST(a.ts AS BIGINT) AS ts_audio,
        |  v.frame_idx,
        |  CAST(v.frame_idx * 40 AS BIGINT) AS ts_video,
        |  CAST(a.ts - v.frame_idx * 40 AS BIGINT) AS sync_lag_ms,
        |  md5(a.audio_fp || v.frame_fp) AS fused_fp
        |FROM audio a
        |ASOF LEFT JOIN video v
        |  ON a.media_id = v.media_id AND a.ts >= v.ts
        |ORDER BY a.media_id, a.chunk_idx""".stripMargin,
    // mm01/mm05 oracles read the SOURCE bytes; Spark reads genuinely
    // DECODED PNG pixels — equality proves the encode→decode round-trip
    // is pixel-exact (grayscale PNG is lossless).
    // mm12: planting (triple-quantized read offsets) and run collapse
    // (lag + running sum) replayed on the source text bytes.
    "mm12_frame_runs" ->
      """WITH f AS (SELECT doc_id AS media_id,
        |    unnest(generate_series(0,
        |      CAST(ceil(length(text) / 32.0) AS BIGINT) - 1, 1)) AS fi,
        |    text FROM documents),
        |fp AS (SELECT media_id, fi,
        |    md5(substring(text, CAST((CASE WHEN media_id % 5 = 0
        |      THEN (fi // 3) * 3 ELSE fi END) * 32 + 1 AS INT), 32))
        |      AS fp
        |  FROM f),
        |nw AS (SELECT media_id, fi, CASE WHEN lag(fp) OVER
        |      (PARTITION BY media_id ORDER BY fi) IS DISTINCT FROM fp
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM fp),
        |rid AS (SELECT media_id, CAST(sum(is_new) OVER
        |      (PARTITION BY media_id ORDER BY fi
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        |  FROM nw),
        |runs AS (SELECT media_id, run_id,
        |    CAST(count(*) AS BIGINT) AS run_len
        |  FROM rid GROUP BY 1, 2)
        |SELECT media_id, CAST(sum(run_len) AS BIGINT) AS n_frames,
        |  CAST(count(*) AS BIGINT) AS n_runs,
        |  CAST(max(run_len) AS BIGINT) AS longest_run,
        |  (CAST(sum(run_len) AS BIGINT) - CAST(count(*) AS BIGINT))
        |    * 10000 // CAST(sum(run_len) AS BIGINT) AS static_x10k
        |FROM runs GROUP BY media_id ORDER BY media_id""".stripMargin,
    "mm11_aspect_buckets" ->
      """WITH g AS (SELECT doc_id AS media_id,
        |    CAST(length(text) // 16 AS BIGINT) AS h
        |  FROM documents WHERE length(text) >= 16),
        |b AS (SELECT media_id, h, h // 16 AS band,
        |    ((h + 7) // 8) * 8 AS padded_h FROM g),
        |agg AS (SELECT band, count(*) AS n_images,
        |    min(h) AS min_h, max(h) AS max_h,
        |    CAST(sum(16 * h) AS BIGINT) AS src_px,
        |    CAST(sum(16 * padded_h) AS BIGINT) AS padded_px
        |  FROM b GROUP BY 1)
        |SELECT band, n_images, min_h, max_h, src_px, padded_px,
        |  (padded_px - src_px) * 10000 // src_px AS pad_overhead_x10k
        |FROM agg ORDER BY band""".stripMargin,
    // mm16: dims from source bytes, per-band next-fit fold as a
    // recursive CTE (the pp38 replay shape), patch math all-integer
    // mm17: dims from source bytes + the shared tokenizer training +
    // the per-source next-fit fold as a recursive CTE — one hash
    // certifies decode + tokenizer + packing together
    "mm17_vlm_batches" ->
      ("WITH RECURSIVE " + graft.operators.TextAnalysis.bpeDocCtes +
      """,dm AS (SELECT doc_id, CASE WHEN length(text) >= 16
        |    THEN (((length(text) // 16) + 7) // 8) * 2
        |    ELSE 0 END AS patches
        |  FROM documents),
        |sz AS MATERIALIZED (SELECT d.doc_id, d.source,
        |    dm.patches + docsw.n_subwords AS cost,
        |    dm.patches AS patches, docsw.n_subwords AS stok,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY d.doc_id) AS rn
        |  FROM documents d JOIN dm USING (doc_id)
        |    JOIN docsw USING (doc_id)),
        |r AS (SELECT source, rn, cost, CAST(0 AS BIGINT) AS batch,
        |    cost AS fill
        |  FROM sz WHERE rn = 1
        |  UNION ALL
        |  SELECT t.source, t.rn, t.cost,
        |    CASE WHEN r.fill + t.cost <= 512 THEN r.batch
        |         ELSE r.batch + 1 END,
        |    CASE WHEN r.fill + t.cost <= 512 THEN r.fill + t.cost
        |         ELSE t.cost END
        |  FROM r JOIN sz t ON t.source = r.source AND t.rn = r.rn + 1),
        |pb AS (SELECT source, batch, sum(cost) AS bc FROM r
        |  GROUP BY 1, 2),
        |bb AS (SELECT source, CAST(count(*) AS BIGINT) AS n_batches,
        |    CAST(sum(greatest(0, 512 - bc)) AS BIGINT) AS waste_slots
        |  FROM pb GROUP BY 1),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(patches) AS BIGINT) AS patch_tokens,
        |    CAST(sum(stok) AS BIGINT) AS text_tokens,
        |    CAST(sum(cost) AS BIGINT) AS total_tokens,
        |    CAST((sum(cost) + 511) // 512 AS BIGINT) AS lb_batches
        |  FROM sz GROUP BY 1)
        |SELECT tot.source, n_samples, patch_tokens, text_tokens,
        |  total_tokens, lb_batches, n_batches, waste_slots,
        |  CAST(waste_slots * 10000 // (n_batches * 512) AS BIGINT)
        |    AS waste_x10k,
        |  CAST(patch_tokens * 10000 // total_tokens AS BIGINT)
        |    AS img_share_x10k
        |FROM tot JOIN bb USING (source)
        |ORDER BY tot.source""".stripMargin),
    "mm16_patch_batches" ->
      """WITH RECURSIVE g AS (SELECT doc_id AS media_id,
        |    CAST(strlen(text) // 16 AS BIGINT) AS h
        |  FROM documents WHERE strlen(text) >= 16),
        |dt AS MATERIALIZED (SELECT media_id, h // 16 AS band,
        |    ((h + 7) // 8) * 2 AS patches,
        |    row_number() OVER (PARTITION BY h // 16
        |      ORDER BY media_id) AS rn
        |  FROM g),
        |r AS (SELECT band, rn, patches, CAST(0 AS BIGINT) AS batch,
        |    patches AS fill
        |  FROM dt WHERE rn = 1
        |  UNION ALL
        |  SELECT t.band, t.rn, t.patches,
        |    CASE WHEN r.fill + t.patches <= 128 THEN r.batch
        |         ELSE r.batch + 1 END,
        |    CASE WHEN r.fill + t.patches <= 128
        |         THEN r.fill + t.patches
        |         ELSE t.patches END
        |  FROM r JOIN dt t ON t.band = r.band AND t.rn = r.rn + 1),
        |pb AS (SELECT band, batch, sum(patches) AS bp FROM r
        |  GROUP BY 1, 2),
        |bb AS (SELECT band, CAST(count(*) AS BIGINT) AS n_batches,
        |    CAST(sum(greatest(0, 128 - bp)) AS BIGINT)
        |      AS waste_patches
        |  FROM pb GROUP BY 1),
        |tot AS (SELECT band, CAST(count(*) AS BIGINT) AS n_images,
        |    CAST(sum(patches) AS BIGINT) AS total_patches,
        |    CAST((sum(patches) + 127) // 128 AS BIGINT) AS lb_batches
        |  FROM dt GROUP BY 1)
        |SELECT tot.band, n_images, total_patches, lb_batches,
        |  n_batches, waste_patches,
        |  CAST(waste_patches * 10000 // (n_batches * 128) AS BIGINT)
        |    AS waste_x10k
        |FROM tot JOIN bb USING (band)
        |ORDER BY tot.band""".stripMargin,
    // mm15: planting, the flat-row scan (replace(row, first_char, '')
    // empty ⇔ single-valued row) and the cropped-byte md5 replayed
    // from source bytes — hash equality re-certifies the real decode
    // BYTE-TRUE replay (r12, the mm05 note): the raster is hex pairs
    // (row = 32 hex chars); the flat-row test removes the first PAIR —
    // a hex string empties under pair-replace iff it is that pair
    // tiled, i.e. the row is single-valued; crop_fp = md5 over the hex
    // slice, matching Spark's md5(hex(bytes))
    "mm15_letterbox_crop" ->
      """WITH g AS (SELECT doc_id AS media_id,
        |    substring(hex(encode(text)), 1,
        |      CAST(32 * (strlen(text) // 16) AS INT)) AS raster
        |  FROM documents WHERE strlen(text) >= 16),
        |p AS (SELECT media_id,
        |    CASE WHEN media_id % 4 = 0
        |         THEN repeat('20', 48) || raster || repeat('20', 48)
        |         ELSE raster END AS px
        |  FROM g),
        |rws AS (SELECT media_id, px, length(px) // 32 AS h,
        |    unnest(generate_series(0, length(px) // 32 - 1)) AS y
        |  FROM p),
        |rf AS (SELECT media_id, px, h, y,
        |    length(replace(
        |      substring(px, CAST(y * 32 + 1 AS INT), 32),
        |      substring(px, CAST(y * 32 + 1 AS INT), 2), '')) = 0
        |      AS flat
        |  FROM rws),
        |tb AS (SELECT media_id, any_value(px) AS px, h,
        |    coalesce(min(y) FILTER (NOT flat), h) AS top_trim,
        |    CASE WHEN count(*) FILTER (NOT flat) = 0 THEN 0
        |         ELSE h - 1 - max(y) FILTER (NOT flat) END AS bot
        |  FROM rf GROUP BY media_id, h)
        |SELECT media_id, CAST(h AS BIGINT) AS h_padded,
        |  CAST(top_trim AS BIGINT) AS top_trim,
        |  CAST(bot AS BIGINT) AS bottom_trim,
        |  CAST(h - top_trim - bot AS BIGINT) AS h_cropped,
        |  CAST((h - top_trim - bot) * 10000 // h AS BIGINT)
        |    AS retained_x10k,
        |  md5(substring(px, CAST(top_trim * 32 + 1 AS INT),
        |    CAST((h - top_trim - bot) * 32 AS INT))) AS crop_fp
        |FROM tb ORDER BY media_id""".stripMargin,
    // BYTE-TRUE replay (r12, the mm05 note): byte i of the raster is
    // the hex pair at 2i+1; its value decodes via strpos on a
    // '123456789ABCDEF' alphabet (a missing '0' maps to 0 — exactly
    // the nibble value); the thumbnail fingerprint re-encodes each
    // pooled value as an lpad-2 hex pair and md5s the hex string,
    // matching Spark's md5(hex(bytes)) on any corpus
    "mm08_thumbnail" ->
      """WITH g AS (SELECT doc_id AS media_id,
        |    CAST(strlen(text) // 16 AS BIGINT) AS h,
        |    substring(hex(encode(text)), 1,
        |      CAST((strlen(text) // 16) * 32 AS INT)) AS px
        |  FROM documents WHERE strlen(text) >= 32),
        |t AS (SELECT media_id, h // 2 AS th, px FROM g WHERE h >= 2),
        |rows_ AS (SELECT media_id, th, px,
        |    unnest(generate_series(0, th - 1)) AS ty FROM t),
        |cells AS (SELECT media_id, th, ty, tx,
        |    (strpos('123456789ABCDEF', substring(px, CAST((2*ty*16 + 2*tx) * 2 + 1 AS INT), 1)) * 16
        |   + strpos('123456789ABCDEF', substring(px, CAST((2*ty*16 + 2*tx) * 2 + 2 AS INT), 1))
        |   + strpos('123456789ABCDEF', substring(px, CAST((2*ty*16 + 2*tx + 1) * 2 + 1 AS INT), 1)) * 16
        |   + strpos('123456789ABCDEF', substring(px, CAST((2*ty*16 + 2*tx + 1) * 2 + 2 AS INT), 1))
        |   + strpos('123456789ABCDEF', substring(px, CAST(((2*ty+1)*16 + 2*tx) * 2 + 1 AS INT), 1)) * 16
        |   + strpos('123456789ABCDEF', substring(px, CAST(((2*ty+1)*16 + 2*tx) * 2 + 2 AS INT), 1))
        |   + strpos('123456789ABCDEF', substring(px, CAST(((2*ty+1)*16 + 2*tx + 1) * 2 + 1 AS INT), 1)) * 16
        |   + strpos('123456789ABCDEF', substring(px, CAST(((2*ty+1)*16 + 2*tx + 1) * 2 + 2 AS INT), 1)))
        |      // 4 AS v
        |  FROM (SELECT r.media_id, r.th, r.ty, r.px,
        |          unnest(generate_series(0, 7)) AS tx FROM rows_ r))
        |SELECT media_id, CAST(8 AS BIGINT) AS t_width,
        |  max(th) AS t_height,
        |  CAST(sum(v) AS BIGINT) AS t_luma_sum,
        |  md5(string_agg(lpad(hex(CAST(v AS BIGINT)), 2, '0'), ''
        |    ORDER BY ty * 8 + tx)) AS thumb_fp
        |FROM cells GROUP BY media_id ORDER BY media_id""".stripMargin,
    // mm10: verdicts from the planting rule, accepted values from the
    // source bytes — agreement proves quarantine caught exactly the
    // planted corruption AND clean payloads decoded losslessly.
    "mm10_media_quarantine" ->
      """WITH g AS (SELECT doc_id AS media_id,
        |    CAST(length(text) // 16 AS BIGINT) AS h,
        |    substring(text, 1, CAST((length(text) // 16) * 16 AS INT))
        |      AS px
        |  FROM documents WHERE length(text) >= 16),
        |v AS (SELECT media_id, h, px,
        |    CASE WHEN media_id % 7 = 1 THEN 'bad_magic'
        |         WHEN media_id % 7 = 2 OR media_id % 7 = 3
        |           THEN 'decode_error'
        |         ELSE '' END AS reason
        |  FROM g)
        |SELECT media_id,
        |  CASE WHEN reason = '' THEN 'ok' ELSE 'quarantined' END AS status,
        |  reason,
        |  CASE WHEN reason = '' THEN CAST(16 AS BIGINT)
        |    ELSE CAST(-1 AS BIGINT) END AS width,
        |  CASE WHEN reason = '' THEN h ELSE CAST(-1 AS BIGINT) END
        |    AS height,
        |  CASE WHEN reason = '' THEN md5(px) ELSE '' END AS px_md5
        |FROM v ORDER BY media_id""".stripMargin,
    "mm01_media_ingest" ->
      """WITH g AS (SELECT doc_id AS media_id,
        |    CAST(length(text) AS BIGINT) AS nbytes,
        |    CAST(length(text) // 16 AS BIGINT) AS h,
        |    substring(text, 1, CAST((length(text) // 16) * 16 AS INT))
        |      AS px
        |  FROM documents WHERE length(text) >= 16)
        |SELECT media_id, 'image/png' AS mime, nbytes,
        |  CAST(16 AS BIGINT) AS width, h AS height,
        |  round(CAST(list_sum(list_transform(string_split(px, ''),
        |    c -> CAST(ord(c) AS BIGINT))) AS DOUBLE) / (16 * h), 2)
        |    AS mean_luma,
        |  md5(px) AS decoded_fp
        |FROM g ORDER BY media_id""".stripMargin,
    "mm02_frame_sample" ->
      """WITH f AS (SELECT doc_id AS media_id, text,
        |    unnest(generate_series(0,
        |      CAST(ceil(length(text) / 32.0) AS BIGINT) - 1, 4)) AS frame_idx
        |  FROM documents)
        |SELECT media_id, frame_idx,
        |  CAST(length(substring(text, CAST(frame_idx * 32 + 1 AS INT), 32))
        |    AS BIGINT) AS frame_bytes,
        |  md5(substring(text, CAST(frame_idx * 32 + 1 AS INT), 32)) AS frame_fp
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    "mm03_batch_decode" ->
      """SELECT doc_id AS media_id,
        |  round(CAST(list_sum(list_transform(string_split(text, ''),
        |    c -> CAST(ord(c) AS BIGINT))) AS DOUBLE), 2) AS feature_sum
        |FROM documents ORDER BY media_id""".stripMargin,
  )
}
