package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for the extended surface: media payloads
  * travel as opaque `binary` columns + typed metadata; decode /
  * feature-extraction runs per partition so codecs are set up once per
  * task, not once per row (the Scala analogue of arrow-batched
  * `mapInPandas`).
  *
  * The IMAGE leg is real: payloads are genuine PNG/BMP/GIF containers
  * encoded with the JDK's `javax.imageio` (no external codecs needed),
  * and [[decodeMeta]] parses them back through `ImageIO` — actual
  * header dimensions, the actual sniffed container format, and the
  * actual decoded raster pixel sum. Geometry and pixel content derive
  * deterministically from `doc_id`, so the DuckDB oracle can predict
  * what a CORRECT decode must yield without being able to parse PNG
  * itself; all three containers are lossless for 8-bit gray, so the
  * raster round-trips bit-exact. (The container's BYTE LENGTH is
  * deliberately not part of any oracle-checked output — compressed
  * size is encoder-version-dependent.) Video frame extraction remains
  * a documented arithmetic stand-in (no video codecs in this
  * environment) with the real explode-shaped plumbing.
  */
object Multimodal {

  /** Deterministic image geometry/content for a doc id — mirrored by
    * the multimodal oracles: width = 16 + id % 32, height =
    * 16 + (id*7) % 24, gray pixel (x,y) = (id + x + y) % 256,
    * container = id % 3 → png/bmp/gif.
    */
  private def geom(id: Long): (Int, Int, String) =
    ((16 + id % 32).toInt, (16 + (id * 7) % 24).toInt,
      id % 3 match { case 0 => "png"; case 1 => "bmp"; case _ => "gif" })

  /** A doc's media payload: real encoded image bytes. */
  case class MediaPayload(doc_id: Long, media: Array[Byte])

  /** Metadata extracted by a real ImageIO decode. */
  case class MediaMeta(doc_id: Long, width: Int, height: Int,
      format: String, px_sum: Long)

  /** Attach a binary "media" payload (UTF-8 bytes of the text column —
    * a deterministic stand-in used by the video-ish [[frameSample]]).
    * Null text → empty payload (defined behavior, mirrored in the
    * oracles).
    */
  def withBinaryPayload(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      encode(coalesce(col("text"), lit("")), "UTF-8").as("media"))

  /** Real image payloads: one 8-bit grayscale PNG/BMP/GIF per doc,
    * encoded in the partition-batched path ([[geom]] fixes size,
    * pixels, and container per doc id). This models the ingest edge
    * where media arrives as opaque bytes; everything downstream
    * ([[decodeMeta]], [[resizePlan]]) must work from the bytes alone.
    */
  def imagePayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      // per-partition codec setup: keep ImageIO's stream scratch in
      // memory — the default disk cache would write a temp file per
      // image
      javax.imageio.ImageIO.setUseCache(false)
      it.map { id =>
        val (w, h, fmt) = geom(id)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, ((id + x + y) % 256).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        require(javax.imageio.ImageIO.write(img, fmt, bos),
          s"doc $id: no ImageIO writer for $fmt")
        MediaPayload(id, bos.toByteArray)
      }
    }.toDF()
  }

  /** Decode/feature-extract over the binary column, partition-batched:
    * sniff the container (reader chosen by content, not by what
    * [[geom]] intended), read the header dimensions, and sum the
    * decoded raster — a wrong byte anywhere in encode, shuffle, or
    * decode shows up in the oracle-predicted px_sum. Corrupt payloads
    * fail loud with the doc named.
    */
  def decodeMeta(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    imagePayload(docs).as[MediaPayload].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { p =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(p.media))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext,
          s"doc ${p.doc_id}: no ImageIO reader recognizes the payload")
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val img = reader.read(0)
          val raster = img.getRaster
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              sum += raster.getSample(x, y, 0)
              x += 1
            }
            y += 1
          }
          MediaMeta(p.doc_id, img.getWidth, img.getHeight,
            reader.getFormatName.toLowerCase, sum)
        } finally {
          reader.dispose()
          iis.close()
        }
      }
    }.toDF()
  }

  /** Frame sampling over a (stand-in) video-like payload: one row
    * per sampled frame with deterministic pts/fingerprint — the
    * explode-shaped plumbing a real frame sampler needs (schema,
    * per-frame rows, bounded fan-out), with arithmetic in place of the
    * codec. Output: (doc_id, frame_idx, pts_ms, frame_hash).
    */
  def frameSample(docs: DataFrame): DataFrame = {
    // null text → empty payload, same contract as withBinaryPayload
    val nBytes = octet_length(encode(coalesce(col("text"), lit("")), "UTF-8"))
    val nFrames = (nBytes % 7) + 1
    docs.select(col("doc_id"), nFrames.as("n_frames"))
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * 40).as("pts_ms"),
        pmod(col("doc_id") * 1000003L + col("frame_idx") * 7919L,
          lit(2147483647L)).as("frame_hash"))
  }

  /** A doc's perceptual hash row. */
  case class MediaHash(doc_id: Long, width: Int, height: Int,
      ahash: Long)

  /** Perceptual average-hash (aHash — the classic pHash-family
    * baseline) over the REAL decoded raster: block-average the image
    * onto an 8×8 grid (cell (i,j) covers x ∈ [⌊i·w/8⌋, ⌊(i+1)·w/8⌋),
    * same for y; cell value = ⌊Σpx / n⌋), threshold each cell against
    * ⌊Σcells / 64⌋, and pack the 64 `cell > mean` bits into an int64
    * (bit k = j·8 + i, two's-complement wrap at bit 63). Every step
    * is integer, so the hash is a pure function of the pixels — the
    * oracle re-derives it from the generator's closed-form raster,
    * which means a wrong byte ANYWHERE in encode → shuffle → decode →
    * downsample flips a verifiable bit.
    *
    * This is the image-side near-dup primitive: identical hashes ⇒
    * perceptually identical content at 8×8 granularity regardless of
    * original size or container, and Hamming-adjacent hashes are the
    * banded-join candidates (16-bit bands — the MinHash pattern with
    * hash halves as band keys) if a threshold variant is needed.
    * Partition-batched decode like [[decodeMeta]]; downstream is one
    * narrow (id, w, h, hash) frame.
    */
  def aHash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    imagePayload(docs).as[MediaPayload].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { p =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(p.media))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext,
          s"doc ${p.doc_id}: no ImageIO reader recognizes the payload")
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val img = reader.read(0)
          val raster = img.getRaster
          val w = img.getWidth
          val h = img.getHeight
          val cells = new Array[Long](64)
          var j = 0
          while (j < 8) {
            val y0 = j * h / 8; val y1 = (j + 1) * h / 8
            var i = 0
            while (i < 8) {
              val x0 = i * w / 8; val x1 = (i + 1) * w / 8
              var s = 0L
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) { s += raster.getSample(x, y, 0); x += 1 }
                y += 1
              }
              cells(j * 8 + i) = s / ((x1 - x0).toLong * (y1 - y0))
              i += 1
            }
            j += 1
          }
          val mean = cells.sum / 64
          var hash = 0L
          var k = 0
          while (k < 64) {
            if (cells(k) > mean) hash |= (1L << k)
            k += 1
          }
          MediaHash(p.doc_id, w, h, hash)
        } finally {
          reader.dispose()
          iis.close()
        }
      }
    }.toDF()
  }

  /** Exact perceptual-duplicate groups: docs sharing an identical
    * [[aHash]] regardless of source geometry/container. One hash
    * aggregate over the narrow hash frame — the image twin of
    * `Dedup.exact`'s text-fingerprint collapse. Output: (ahash,
    * n_docs, min_doc) for groups of ≥ 2.
    */
  def aHashGroups(docs: DataFrame): DataFrame =
    aHash(docs).groupBy(col("ahash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") >= 2)

  /** Hamming-threshold perceptual near-dup pairs — the banded-LSH
    * join the [[aHash]] scaladoc promises: each 64-bit hash splits
    * into 4×16-bit band keys (flat long key, band index in the high
    * bits — the `Dedup.simhashPairs` discipline), docs sharing ANY
    * band become candidates via a plain equi-join, and candidates
    * verify with exact popcount(a XOR b) ≤ maxHamming. With 4 bands
    * the pigeonhole principle makes the banding LOSSLESS for
    * maxHamming ≤ 3 (a pair within distance 3 cannot touch all four
    * bands), so the DuckDB oracle's exact all-pairs popcount twin
    * must match row-for-row — a banded plan with an exact answer.
    *
    * Scale shape: never all-pairs — candidates generate per
    * 16-bit-band bucket (one equi-join shuffle on the flat key +
    * distinct), so cost tracks bucket occupancy, not n². The decode
    * runs once: callers that also register the hash/group queries
    * pass the shared memoized hash frame to [[aHashNearFromHashes]].
    * Output: (id_a, id_b, hamming).
    */
  def aHashNearPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    // the pair pipeline reads the hash frame from several sides —
    // pin the (narrow) hashes so the ImageIO decode runs once
    aHashNearFromHashes(
      graft.Scratch.pin("aHashNearPairs hashes",
        aHash(docs).select(col("doc_id"), col("ahash"))),
      maxHamming)

  /** Band-join stage of [[aHashNearPairs]] over an already-built
    * (doc_id, ahash) frame (shared per suite via the cross-query
    * memo so the ImageIO decode runs once, not once per side of the
    * self-join).
    */
  private[graft] def aHashNearFromHashes(hashes: DataFrame,
      maxHamming: Int): DataFrame =
    bandedHammingPairs(hashes, "ahash", Nil, maxHamming)

  /** Shot-boundary segmentation over per-source frame sequences —
    * the video-pipeline scene-cut pass expressed on this fixture's
    * image corpus: within each source, doc_id order is the frame
    * order, and a new segment opens wherever the perceptual-hash
    * distance to the previous frame exceeds `maxHamming`
    * (popcount(aHash_t XOR aHash_{t−1}) — the standard cheap
    * shot detector; the fixture's closed-form rasters drift smoothly
    * with doc_id, median consecutive distance 8, so threshold 10
    * yields a real mix of multi-frame shots and cuts). Consumes the
    * already-decoded hash frame (one ImageIO pass per suite via the
    * cross-query memo).
    *
    * Output: one row per segment — (source, seg_id, n_frames,
    * first_doc, last_doc).
    *
    * 100 TB shape: one lag + one running-sum window, both partitioned
    * by the sequence key (per video, here per source) — no global
    * window, no joins beyond the hash↔meta equi-join; segments
    * aggregate at shot grain.
    */
  def sceneCuts(hashes: DataFrame, meta: DataFrame,
      maxHamming: Int = 10): DataFrame = {
    require(maxHamming >= 0)
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hashes.select(col("doc_id"), col("ahash"))
      .join(meta.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("prev", lag(col("ahash"), 1).over(w))
      .withColumn("cut",
        when(col("prev").isNull, 1L)
          .when(expr(s"bit_count(prev ^ ahash) > $maxHamming"), 1L)
          .otherwise(0L))
      .withColumn("seg_id", sum(col("cut")).over(cum))
      .groupBy(col("source"), col("seg_id"))
      .agg(count(lit(1)).as("n_frames"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** The shared 4×16-bit banded Hamming join, tie-collapsed: band
    * keys explode from the DISTINCT (extraKeys, hash) values — not
    * from doc rows — so perceptual corpora with heavy hash ties
    * (exactly what near-dup-rich image/audio sets look like) band D
    * distinct hashes instead of N docs. Hash pairs within
    * `maxHamming` then expand back to doc pairs through two
    * hash-equality joins (same-hash pairs via one within-group
    * self-join), i.e. the only quadratic work left is the OUTPUT
    * itself. Banding: four flat 16-bit keys (band index in the high
    * bits, one equi-join shuffle, never all-pairs), lossless for
    * maxHamming ≤ 3 by pigeonhole (a pair within distance 3 cannot
    * touch all four bands). `extraKeys` ride every join so
    * structurally incomparable hashes (e.g. different-length audio
    * signals) never pair. Output: (id_a, id_b, hamming), id_a < id_b.
    */
  private[graft] def bandedHammingPairs(hashes: DataFrame,
      hashCol: String, extraKeys: Seq[String],
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit banding is only lossless for hamming <= 3 (got $maxHamming)")
    val keyCols = extraKeys.map(col)
    val distinctHashes = hashes
      .groupBy((col(hashCol) +: keyCols): _*).agg(count(lit(1)).as("n"))
      .drop("n")
    val banded = distinctHashes.select(
      (col(hashCol) +: keyCols :+
        explode(array((0 until 4).map(b =>
          shiftrightunsigned(col(hashCol), b * 16)
            .bitwiseAND(lit(0xFFFFL)) + lit(b * 65536L)): _*)).as("bk")): _*)
    val bandCond = (Seq(col("a.bk") === col("b.bk"),
      col(s"a.$hashCol") < col(s"b.$hashCol")) ++
      extraKeys.map(k => col(s"a.$k") === col(s"b.$k"))).reduce(_ && _)
    val hashPairs = banded.as("a")
      .join(banded.as("b"), bandCond)
      .select((Seq(col(s"a.$hashCol").as("ha"), col(s"b.$hashCol").as("hb"))
        ++ extraKeys.map(k => col(s"a.$k"))): _*)
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming && col("hamming") > 0)
    val sameCond = (Seq(col(s"a.$hashCol") === col(s"b.$hashCol"),
      col("a.doc_id") < col("b.doc_id")) ++
      extraKeys.map(k => col(s"a.$k") === col(s"b.$k"))).reduce(_ && _)
    val samePairs = hashes.as("a")
      .join(hashes.as("b"), sameCond)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        lit(0).as("hamming"))
    val crossCond = (cand: String, side: String, h: String) =>
      (Seq(col(s"$cand.$h") === col(s"$side.$hashCol")) ++
        extraKeys.map(k => col(s"$cand.$k") === col(s"$side.$k")))
        .reduce(_ && _)
    val crossPairs = hashPairs.as("p")
      .join(hashes.as("x"), crossCond("p", "x", "ha"))
      .join(hashes.as("y"), crossCond("p", "y", "hb"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"),
        col("p.hamming"))
    samePairs.unionByName(crossPairs)
  }

  // ------------------------------------------------------------------
  // Audio leg — real RIFF/WAV containers via the JDK's
  // javax.sound.sampled (the audio analogue of the ImageIO leg above):
  // payloads are genuine WAV files encoded by AudioSystem, and the
  // decode kernel parses them back through AudioSystem — actual header
  // fields (sample rate, bit depth, channels) and the actual PCM
  // samples. Signal content derives deterministically from `doc_id`,
  // so the DuckDB oracle can predict what a CORRECT decode must yield
  // without being able to parse RIFF itself; PCM16 is lossless, so
  // samples round-trip bit-exact.
  // ------------------------------------------------------------------

  /** Frame size for audio feature extraction: 160 samples = 20 ms at
    * 8 kHz — the standard telephony/VAD hop.
    */
  val AudioFrame = 160

  /** Deterministic PCM16 signal for a doc id, mirrored closed-form by
    * the audio oracles. Per 160-sample frame f, an amplitude gate
    * m = (id + f) % 5 silences two consecutive frames per cycle
    * (m < 2 → 0 — real silence runs for the segmentation op);
    * otherwise sample t is a ±64 pseudo-wave scaled by m·300, clamped
    * to int16 full scale so loud frames genuinely clip.
    */
  private def pcmSample(id: Long, t: Int): Short = {
    val m = (id + t / AudioFrame) % 5
    val amp = if (m < 2) 0L else m
    val raw = ((id * 7 + t.toLong * 31) % 128) - 64
    val s = amp * raw * 300
    math.max(-32768L, math.min(32767L, s)).toShort
  }

  /** Samples per doc: 4–8 whole frames. */
  private def pcmLen(id: Long): Int = (640 + (id % 5) * AudioFrame).toInt

  /** A doc's audio payload: real WAV bytes. */
  case class AudioPayload(doc_id: Long, audio: Array[Byte])

  /** Header + signal metadata from a real AudioSystem decode. */
  case class AudioMeta(doc_id: Long, sample_rate: Int, bits: Int,
      channels: Int, n_samples: Long, peak: Int, sumsq: Long)

  /** Per-frame audio features from the decode kernel. */
  case class AudioFrameRow(doc_id: Long, frame_idx: Int, sumsq: Long,
      peak: Int, clipped_n: Int)

  /** Real audio payloads: one mono 16-bit 8 kHz WAV per doc, encoded
    * in the partition-batched path. Models the ingest edge where audio
    * arrives as opaque bytes; everything downstream must work from the
    * bytes alone.
    */
  def audioPayload(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val n = pcmLen(id)
        val pcm = new Array[Byte](n * 2)
        var t = 0
        while (t < n) {
          val s = pcmSample(id, t)
          pcm(t * 2) = (s & 0xff).toByte        // little-endian PCM16
          pcm(t * 2 + 1) = ((s >> 8) & 0xff).toByte
          t += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
          true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        AudioPayload(id, bos.toByteArray)
      }
    }.toDF()
  }

  /** Decode a WAV payload to its PCM16 samples via AudioSystem —
    * container parsing included; fails loud with the doc named.
    */
  private def decodeWav(p: AudioPayload): (
      javax.sound.sampled.AudioFormat, Array[Short]) = {
    val ais = try javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(p.audio))
    catch { case e: javax.sound.sampled.UnsupportedAudioFileException =>
      throw new IllegalArgumentException(
        s"doc ${p.doc_id}: payload is not a recognized audio container", e)
    }
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
        s"doc ${p.doc_id}: expected little-endian PCM16, got $fmt")
      val bytes = ais.readAllBytes()
      val out = new Array[Short](bytes.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = (((bytes(i * 2 + 1) & 0xff) << 8) |
          (bytes(i * 2) & 0xff)).toShort
        i += 1
      }
      (fmt, out)
    } finally ais.close()
  }

  /** Audio metadata + whole-signal aggregates by real decode: header
    * sample rate / bit depth / channels plus n_samples, peak |s|, and
    * the int64 energy Σs² — a wrong byte anywhere in encode, shuffle,
    * or decode shows up in the oracle-predicted sumsq.
    */
  def audioMeta(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    audioPayload(docs).as[AudioPayload].mapPartitions { it =>
      it.map { p =>
        val (fmt, pcm) = decodeWav(p)
        var sumsq = 0L; var peak = 0; var i = 0
        while (i < pcm.length) {
          val v = pcm(i).toInt
          sumsq += v.toLong * v
          val a = math.abs(v)
          if (a > peak) peak = a
          i += 1
        }
        AudioMeta(p.doc_id, fmt.getSampleRate.toInt,
          fmt.getSampleSizeInBits, fmt.getChannels, pcm.length.toLong,
          peak, sumsq)
      }
    }.toDF()
  }

  /** Per-frame feature extraction in the decode kernel (energy, peak,
    * full-scale-clipped sample count per 20 ms frame) — features come
    * OUT of the kernel as narrow integer rows; all downstream
    * analytics ([[audioSilence]]) run on the feature frame, never on
    * raw samples. Output: (doc_id, frame_idx, sumsq, peak, clipped_n).
    */
  def audioFrames(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    audioPayload(docs).as[AudioPayload].mapPartitions { it =>
      it.flatMap { p =>
        val (_, pcm) = decodeWav(p)
        (0 until pcm.length / AudioFrame).iterator.map { f =>
          var sumsq = 0L; var peak = 0; var clipped = 0
          var t = f * AudioFrame
          val end = t + AudioFrame
          while (t < end) {
            val v = pcm(t).toInt
            sumsq += v.toLong * v
            val a = math.abs(v)
            if (a > peak) peak = a
            if (v == 32767 || v == -32768) clipped += 1
            t += 1
          }
          AudioFrameRow(p.doc_id, f, sumsq, peak, clipped)
        }
      }
    }.toDF()
  }

  /** Silence segmentation over the frame features: zero-energy frames
    * collapsed into runs by the islands trick (frame_idx − rank among
    * the doc's silent frames is constant within a run — no self-join),
    * reduced to a per-doc audit row: total/silent frame counts,
    * longest silent run, silence ratio in basis points, clipped
    * samples. Output: (doc_id, n_frames, n_silent, longest_silence,
    * silence_bp, clipped_n).
    */
  def audioSilence(docs: DataFrame): DataFrame = {
    val frames = audioFrames(docs)
    val silent = frames.filter(col("sumsq") === 0)
      .withColumn("grp", col("frame_idx") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("frame_idx"))))
    val runs = silent.groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg(max(col("run_len")).as("longest_silence"))
    frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("sumsq") === 0, 1L).otherwise(0L)).as("n_silent"),
        sum(col("clipped_n").cast("long")).as("clipped_n"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"), col("n_silent"),
        coalesce(col("longest_silence"), lit(0L)).as("longest_silence"),
        expr("10000 * n_silent div n_frames").as("silence_bp"),
        col("clipped_n"))
  }

  /** Sub-block size for the audio fingerprint: 20 samples = 2.5 ms at
    * 8 kHz, 8 sub-blocks per 20 ms frame — fine enough that the
    * energy-delta sign pattern discriminates signals the frame-grain
    * features collapse.
    */
  val AudioFpBlock = 20

  /** A doc's audio fingerprint row. */
  case class AudioFp(doc_id: Long, n_blocks: Int, fp: Long)

  /** Audio fingerprint from the real decode — the audio twin of the
    * image [[aHash]], Haitsma–Kalker style (ISMIR 2002): split the
    * PCM into [[AudioFpBlock]]-sample energy sub-blocks, take the
    * sign of each consecutive energy delta, and pack bit k =
    * `energy(k+1) > energy(k)` into an int64. Fixture docs carry
    * 32–64 sub-blocks → ≤ 63 delta bits, so the packed value stays in
    * the non-negative long range (bit 62 max) — every step integer,
    * the hash a pure function of the samples, so the oracle
    * re-derives every bit from the generator's closed-form PCM and a
    * wrong byte anywhere in encode → shuffle → decode flips a
    * verifiable bit. Output: (doc_id, n_blocks, fp).
    */
  def audioFingerprint(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    audioPayload(docs).as[AudioPayload].mapPartitions { it =>
      it.map { p =>
        val (_, pcm) = decodeWav(p)
        val nb = pcm.length / AudioFpBlock
        val en = new Array[Long](nb)
        var b = 0
        while (b < nb) {
          var e = 0L
          var t = b * AudioFpBlock
          val end = t + AudioFpBlock
          while (t < end) { val v = pcm(t).toLong; e += v * v; t += 1 }
          en(b) = e
          b += 1
        }
        var fp = 0L
        var k = 0
        while (k < nb - 1) {
          if (en(k + 1) > en(k)) fp |= (1L << k)
          k += 1
        }
        AudioFp(p.doc_id, nb, fp)
      }
    }.toDF()
  }

  /** Audio near-dup collapse: docs whose energy-delta fingerprints are
    * identical at the same block count — the audio twin of
    * [[aHashGroups]] (n_blocks joins the key so fingerprints of
    * different-length signals never merge on a numeric coincidence).
    * One hash aggregate over the narrow fingerprint frame. Output:
    * (n_blocks, fp, n_docs, min_doc) for groups of ≥ 2.
    */
  def audioFpGroups(docs: DataFrame): DataFrame =
    audioFingerprint(docs).groupBy(col("n_blocks"), col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") >= 2)

  /** Hamming-threshold audio near-dup pairs — the audio twin of
    * [[aHashNearPairs]], same [[bandedHammingPairs]] discipline with
    * n_blocks riding the band join so different-length signals never
    * become candidates. Lossless at maxHamming ≤ 3, so the exact
    * all-pairs oracle twin matches row-for-row. Output: (id_a, id_b,
    * hamming).
    */
  def audioFpNearPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(
      graft.Scratch.pin("audioFpNearPairs fingerprints",
        audioFingerprint(docs)),
      "fp", Seq("n_blocks"), maxHamming)

  /** Audio segmentation by fingerprint delta — the audio twin of
    * [[sceneCuts]], completing the modality matrix: order each
    * source's signals by doc_id and cut the sequence wherever the
    * consecutive [[audioFingerprint]] Hamming distance exceeds
    * `maxHamming` (a program boundary in a broadcast stream, a
    * speaker/content change in a recording archive) OR the block
    * count changes (different-length signals have structurally
    * incomparable fingerprints — a forced boundary, same rule that
    * keeps [[audioFpNearPairs]]' band join honest). Consumes the
    * already-decoded fingerprint frame, so no extra AudioSystem pass.
    * The default threshold 16 sits above the fixture's median
    * consecutive distance (~13), yielding a real mix of multi-signal
    * segments and cuts.
    *
    * Output: one row per segment — (source, seg_id, n_signals,
    * first_doc, last_doc).
    *
    * 100 TB shape: one lag + one running-sum window, both partitioned
    * by the sequence key — no global window; segments aggregate at
    * segment grain ([[sceneCuts]]' exact plan on the audio frame).
    */
  def audioCuts(fps: DataFrame, meta: DataFrame,
      maxHamming: Int = 16): DataFrame = {
    require(maxHamming >= 0)
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fps.select(col("doc_id"), col("n_blocks"), col("fp"))
      .join(meta.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("pfp", lag(col("fp"), 1).over(w))
      .withColumn("pnb", lag(col("n_blocks"), 1).over(w))
      .withColumn("cut",
        when(col("pfp").isNull, 1L)
          .when(col("pnb") =!= col("n_blocks"), 1L)
          .when(expr(s"bit_count(pfp ^ fp) > $maxHamming"), 1L)
          .otherwise(0L))
      .withColumn("seg_id", sum(col("cut")).over(cum))
      .groupBy(col("source"), col("seg_id"))
      .agg(count(lit(1)).as("n_signals"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Resize planning over decoded metadata: fit into a `target`-sized
    * box preserving aspect ratio. All integer arithmetic
    * (`w*target // max(w,h)`), so the plan is exact and oracle-
    * checkable; a real resizer would consume (doc_id, new_w, new_h)
    * plus the binary payload in a partition-batched kernel like
    * [[decodeMeta]]. Output: (doc_id, width, height, new_w, new_h).
    */
  def resizePlan(docs: DataFrame, target: Int = 256): DataFrame = {
    val meta = decodeMeta(docs)
    val longSide = greatest(col("width"), col("height"))
    // int/int `/` promotes to double; cast-to-int truncation == floor
    // for positives, matching SQL integer division
    meta.select(col("doc_id"), col("width"), col("height"),
      floor(col("width") * target / longSide).cast("int").as("new_w"),
      floor(col("height") * target / longSide).cast("int").as("new_h"))
  }
}
