package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media as opaque `binary` columns with typed
  * metadata, decode/feature-extract as partition-wise batch functions.
  *
  * The decode path is a REAL codec: `javax.imageio` PNG — each document
  * is rendered to a deterministic grayscale PNG (dims and pixels derived
  * arithmetically from `doc_id`/`n_chars`, so the DuckDB oracle can
  * predict the decoded values without decoding anything), shipped through
  * a typed `Dataset[Media]` binary column, and decoded back with
  * `ImageIO.read`. The Spark plumbing is exactly what a production blob
  * pipeline uses: binary columns, `mapPartitions` batch shape (the Scala
  * analog of `mapInPandas`: one iterator per partition, per-partition
  * codec init, no per-row UDF dispatch), typed outputs. Heavier codecs
  * (JPEG, video frame extraction, audio) slot into the same batch
  * functions — only the library call inside changes.
  *
  * At scale: blobs stay in their partition (no shuffle); decode
  * parallelism is pinned to the session's shuffle width by an explicit
  * repartition of the 16-byte metadata rows BEFORE the codec stage (see
  * `codecInput`); metadata-only queries prune the blob column at the
  * parquet scan (columnar projection).
  */
object MultimodalOps {
  import Tables.documents

  /** Docs per codec task the pre-codec exchange targets: small enough
    * that a corpus-scale input fans out to the full session width (sf1's
    * 50k docs → all 32 threads; the 17×-on-10×-data bug the exchange
    * fixed), large enough that a small fixture doesn't pay 32 task
    * launches for sub-millisecond slices (sf0.1's 5k docs → 8 tasks,
    * sf0.01's 500 → the scan's own splits, exchange skipped). */
  private[graft] val CODEC_ROWS_PER_TASK = 640L

  /** Driver-side parquet footer row count — no Spark job: the codec
    * width decision must not cost a count() per invocation. Single-file
    * fixtures only (TESTDATA.md layout); anything else → None and the
    * caller falls back to the full session width (correct, never
    * under-parallel). */
  private def footerRowCount(s: SparkSession, path: String)
      : Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, s.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Some(r.getRecordCount) finally r.close()
    } catch { case _: Exception => None }

  /** Narrow codec input: (doc_id, n_chars) projected and spread over
    * min(session width, rows / [[CODEC_ROWS_PER_TASK]]) partitions
    * BEFORE the CPU-bound codec stage. A mapPartitions codec inherits
    * the scan's accidental parallelism — the input can arrive as a
    * handful of splits (one small file here; a few fat row groups in
    * production), leaving one task to grind the whole corpus while
    * every other core idles (measured 17× instead of 10× on the 10×
    * sf1 fixture). The exchange moves 16-byte rows — ~0.002% of the
    * blob bytes born AFTER it — so blobs themselves still never
    * shuffle. The width is ROW-SCALED, not a blanket session width: a
    * 32-way exchange of a small fixture is pure task-launch overhead
    * (the r8 sf0.1 `multimodal_phash*` regression), and when the scan
    * already provides at least the target splits the exchange is
    * skipped outright. The partition count is explicit, so AQE won't
    * coalesce the small exchange back into few partitions.
    */
  private def codecInput(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[ImageCodec.Doc] = {
    import s.implicits._
    val width = s.conf.get("spark.sql.shuffle.partitions").toInt
    val narrow = documents(s, d).select(col("doc_id"), col("n_chars"))
    val target = footerRowCount(s, s"$d/documents.parquet")
      .map(r => math.max(1L, math.min(width.toLong,
        (r + CODEC_ROWS_PER_TASK - 1) / CODEC_ROWS_PER_TASK)).toInt)
      .getOrElse(width)
    if (narrow.rdd.getNumPartitions >= target) narrow.as[ImageCodec.Doc]
    else narrow.repartition(target).as[ImageCodec.Doc]
  }

  /** Real PNG codec over deterministic synthetic images.
    *
    * Image contract (mirrored by the DuckDB oracles): for a document,
    * `w = 8 + doc_id % 9`, `h = 8 + n_chars % 7`, and gray pixel
    * `p(x, y) = (x + y*w + doc_id) mod 256`. PNG is lossless 8-bit
    * gray, so decode recovers exactly these values — the gates verify a
    * real encode→bytes→decode round trip, not byte arithmetic.
    */
  object ImageCodec {
    final case class Doc(doc_id: Long, n_chars: Long)
    final case class Media(doc_id: Long, blob: Array[Byte])
    final case class Decoded(doc_id: Long, width: Int, height: Int,
                             n_pixels: Long, pix_sum: Long,
                             mean_intensity: Double)
    final case class Resized(doc_id: Long, out_width: Int, out_height: Int,
                             out_pix_sum: Long)

    def dims(docId: Long, nChars: Long): (Int, Int) =
      (8 + (docId % 9).toInt, 8 + (nChars % 7).toInt)

    def pixel(docId: Long, w: Int, x: Int, y: Int): Int =
      ((x + y.toLong * w + docId) % 256).toInt

    /** Render the deterministic image and ENCODE it to real PNG bytes. */
    def encodeBatch(it: Iterator[Doc]): Iterator[Media] = {
      javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
      it.map { doc =>
        val (w, h) = dims(doc.doc_id, doc.n_chars)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, pixel(doc.doc_id, w, x, y)); x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        Media(doc.doc_id, out.toByteArray)
      }
    }

    /** DECODE real PNG bytes back to pixels and extract features. */
    def decodeBatch(it: Iterator[Media]): Iterator[Decoded] = {
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.blob))
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
        Decoded(m.doc_id, w, h, w.toLong * h, sum,
          sum.toDouble / (w * h))
      }
    }

    final case class Phash(doc_id: Long, phash_hi: Long, phash_lo: Long)

    /** Textured pixel pattern for the perceptual-hash fixture.
      *
      * The gradient contract above is exactly the degenerate case for
      * average-hash: smooth gradients collapse to a handful of step-edge
      * bit patterns, so every 16-bit LSH band collides and candidate
      * generation goes quadratic (measured: 8.5M candidate pairs from
      * 5k docs) — the same reason production perceptual hashing uses
      * DCT-based pHash for smooth content. The phash gates therefore
      * render a multiplicative-mix texture (diverse, hash-friendly bit
      * patterns; measured ~1.8 candidates/doc at sf0.1) with the same
      * dims contract, still arithmetically predictable by the oracle. */
    def texPixel(docId: Long, x: Int, y: Int): Int =
      (((x + 1).toLong * (y + 3) * (docId % 97 + 5) + docId) % 256).toInt

    /** Render the textured image and encode to real PNG bytes. */
    def encodeTexBatch(it: Iterator[Doc]): Iterator[Media] = {
      javax.imageio.ImageIO.setUseCache(false)
      it.map { doc =>
        val (w, h) = dims(doc.doc_id, doc.n_chars)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, texPixel(doc.doc_id, x, y)); x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        Media(doc.doc_id, out.toByteArray)
      }
    }

    /** Decode real PNG bytes and compute a 64-bit average-hash: sample a
      * fixed 8×8 nearest-neighbor grid, set bit i = (sample_i ≥ grid
      * mean), packed as two 32-bit halves so every value (and the XOR
      * Hamming math downstream) stays in non-negative BIGINT range in
      * both engines. The mean compare is integer-exact
      * (sample*64 >= sum), no FP. */
    def phashBatch(it: Iterator[Media]): Iterator[Phash] = {
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.blob))
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val s = new Array[Int](64)
        var i = 0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            s(i) = raster.getSample(x * w / 8, y * h / 8, 0); i += 1; x += 1
          }
          y += 1
        }
        val sum = s.sum
        var hi = 0L
        var lo = 0L
        i = 0
        while (i < 64) {
          if (s(i).toLong * 64 >= sum) {
            if (i < 32) hi |= 1L << i else lo |= 1L << (i - 32)
          }
          i += 1
        }
        Phash(m.doc_id, hi, lo)
      }
    }

    /** Decode + nearest-neighbor 2× downscale (out(x,y) = in(2x,2y) —
      * deterministic by construction, unlike interpolating scalers). */
    def resizeBatch(it: Iterator[Media]): Iterator[Resized] = {
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.blob))
        val raster = img.getRaster
        val ow = (img.getWidth + 1) / 2
        val oh = (img.getHeight + 1) / 2
        var sum = 0L
        var y = 0
        while (y < oh) {
          var x = 0
          while (x < ow) { sum += raster.getSample(2 * x, 2 * y, 0); x += 1 }
          y += 1
        }
        Resized(m.doc_id, ow, oh, sum)
      }
    }
  }

  /** Real WAV codec over deterministic synthetic audio — the SECOND
    * media codec in the same batched `mapPartitions` shape, proving the
    * header's claim that only the library call inside the batch function
    * changes (`javax.sound.sampled` here vs `javax.imageio` above).
    *
    * Audio contract (mirrored by the DuckDB oracle): 8 kHz mono signed
    * PCM16 little-endian; `n = 64 + n_chars % 64` samples; sample
    * `s(i) = (doc_id*31 + i*17) mod 65536 - 32768`. WAV PCM is
    * lossless, so the AudioSystem round trip recovers exactly these
    * values — the gate verifies a real encode→RIFF-bytes→decode trip,
    * not byte arithmetic.
    */
  object AudioCodec {
    import ImageCodec.{Doc, Media}

    final case class AudioMeta(doc_id: Long, sample_rate: Int,
                               n_samples: Int, amp_sum: Long,
                               amp_min: Int, amp_max: Int)

    val SR = 8000

    def nSamples(nChars: Long): Int = (64 + nChars % 64).toInt

    def sample(docId: Long, i: Int): Int =
      ((docId * 31 + i.toLong * 17) % 65536).toInt - 32768

    /** The WAVE writer/reader SPI instances, resolved ONCE per JVM via
      * the public `ServiceLoader` mechanism. Going through
      * `AudioSystem.write`/`getAudioInputStream` per document funnels
      * every executor thread through the JDK's globally synchronized
      * provider registry (`JDK13Services.getProviders`) — measured on
      * the sf1 fixture as a full serialization of the codec stage: the
      * 32-way repartition bought zero speedup until the registry lock
      * left the hot loop. The codec exercised is still the JDK's real
      * WAVE implementation, just looked up through its standard SPI. */
    private lazy val wavWriter
        : Option[javax.sound.sampled.spi.AudioFileWriter] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
        .asScala.find(_.isFileTypeSupported(
          javax.sound.sampled.AudioFileFormat.Type.WAVE))
    }
    private lazy val wavReaders
        : Seq[javax.sound.sampled.spi.AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .asScala.toSeq
    }

    /** Probe surface: which SPI implementations the ServiceLoader
      * resolution actually found (empty reader list = every decode falls
      * back to the globally synchronized AudioSystem entry point). */
    private[graft] def spiStatus: String =
      s"writer=${wavWriter.map(_.getClass.getName)} " +
        s"readers=${wavReaders.map(_.getClass.getName)}"

    /** The reader that last accepted a blob, promoted to first-try. The
      * JDK's reader list is NOT uniformly cheap to reject through: it
      * includes SoftMidiAudioFileReader, whose reject path consults the
      * MidiSystem provider registry — the same globally synchronized
      * JDK13Services lock, re-entered through a side door (measured as
      * NEGATIVE thread scaling, 0.4×).
      * Remembering the accepting reader makes steady-state decode one
      * lock-free header parse per blob. */
    @volatile private var acceptingReader
        : Option[javax.sound.sampled.spi.AudioFileReader] = None

    private def openWav(blob: Array[Byte])
        : javax.sound.sampled.AudioInputStream = {
      def tryOne(r: javax.sound.sampled.spi.AudioFileReader)
          : Option[javax.sound.sampled.AudioInputStream] =
        try Some(r.getAudioInputStream(
          new java.io.ByteArrayInputStream(blob)))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => None
        }
      acceptingReader.flatMap(tryOne).orElse {
        wavReaders.iterator.map(r => r -> tryOne(r)).collectFirst {
          case (r, Some(a)) => acceptingReader = Some(r); a
        }
      }.getOrElse(
        // no SPI reader took it: the (locked) entry point is still the
        // authoritative fallback rather than a decode failure
        javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(blob)))
    }

    /** Render the deterministic waveform and ENCODE to real WAV bytes. */
    def encodeBatch(it: Iterator[Doc]): Iterator[Media] = {
      // per-partition codec init (format object reused across the batch)
      val fmt = new javax.sound.sampled.AudioFormat(
        SR.toFloat, 16, 1, true, false)
      it.map { doc =>
        val n = nSamples(doc.n_chars)
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = sample(doc.doc_id, i)
          pcm(2 * i) = (s & 0xff).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val out = new java.io.ByteArrayOutputStream()
        wavWriter match {
          case Some(w) => w.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
          case None => javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        }
        Media(doc.doc_id, out.toByteArray)
      }
    }

    /** DECODE real WAV bytes: container-parsed format + frame count,
      * then exact PCM16 amplitude stats. */
    def decodeBatch(it: Iterator[Media]): Iterator[AudioMeta] = it.map { m =>
      val ais = openWav(m.blob)
      val fmt = ais.getFormat
      val n = ais.getFrameLength.toInt
      val bytes = ais.readAllBytes()
      var sum = 0L
      var mn = Int.MaxValue
      var mx = Int.MinValue
      var i = 0
      while (i < n) {
        // little-endian signed 16-bit: high byte sign-extends
        val s = (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
        sum += s
        if (s < mn) mn = s
        if (s > mx) mx = s
        i += 1
      }
      AudioMeta(m.doc_id, fmt.getSampleRate.toInt, n, sum, mn, mx)
    }
  }

  /** Real JPEG codec — the THIRD media codec in the batch shape, and the
    * first LOSSY one: the decoded pixels are encoder-dependent, so the
    * oracle-checkable outputs are the lossless container facts (dims,
    * pixel count) plus an in-query verified ERROR BOUND against the
    * rendered contract. `within_tol` is computed by comparing every
    * decoded pixel to the gradient contract and asserting max|err| ≤ 32
    * — a real decode producing garbage fails the gate even though exact
    * pixel values are not hashable. The gradient images are smooth, so
    * 8×8-DCT quantization error stays far below the bound.
    */
  object JpegCodec {
    import ImageCodec.{Doc, Media, dims}

    final case class JpegMeta(doc_id: Long, width: Int, height: Int,
                              n_pixels: Long, within_tol: Boolean)

    /** JPEG-specific pixel contract: a wrap-FREE ramp (max value 134 at
      * the 16×14 dims bound). The shared gradient contract wraps mod 256
      * — a 255-step edge whose DCT ringing exceeds any honest tolerance;
      * a genuinely smooth plane keeps quantization error ≤ ~10. */
    def jpegPixel(docId: Long, x: Int, y: Int): Int =
      x * 3 + y * 2 + (docId % 64).toInt

    /** Render the gradient contract and encode to real JPEG bytes. */
    def encodeBatch(it: Iterator[Doc]): Iterator[Media] = {
      javax.imageio.ImageIO.setUseCache(false)
      it.map { doc =>
        val (w, h) = dims(doc.doc_id, doc.n_chars)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, jpegPixel(doc.doc_id, x, y)); x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", out)
        Media(doc.doc_id, out.toByteArray)
      }
    }

    /** Decode real JPEG bytes; verify the lossy error bound in-query. */
    def decodeBatch(it: Iterator[Media]): Iterator[JpegMeta] = {
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(m.blob))
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var maxErr = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val err = math.abs(
              raster.getSample(x, y, 0) - jpegPixel(m.doc_id, x, y))
            if (err > maxErr) maxErr = err
            x += 1
          }
          y += 1
        }
        JpegMeta(m.doc_id, w, h, w.toLong * h, maxErr <= 32)
      }
    }
  }

  /** The perceptual-hash index (doc_id, phash_hi, phash_lo) — a REAL
    * encode→PNG-bytes→decode→hash pipeline, memoized per dataset because
    * it is the shared derived artifact of the phash gate AND the near-dup
    * gate (at 100 TB the hash index is ~24 B/doc, ~0.002% of corpus
    * bytes — you would persist/write it once and serve every consumer
    * from it, exactly like the LSH band index in DedupOps). */
  private def phashIndex(s: SparkSession, d: String): DataFrame =
    graft.core.SessionMemo.getOrElseUpdate(s, ("mm_phash", d)) {
      import s.implicits._
      import ImageCodec._
      codecInput(s, d)
        .mapPartitions(encodeTexBatch _)
        .mapPartitions(phashBatch _)
        .toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Metadata path: blob byte length + content digest, pure column ops.
    "multimodal_meta" -> ((s, d) =>
      documents(s, d)
        .withColumn("blob", col("text").cast("binary"))
        .select(
          col("doc_id"),
          length(col("blob")).as("n_bytes"),
          md5(col("blob")).as("content_md5"),
          struct(col("lang"), col("source"), col("n_chars")).as("meta"))
        .select(col("doc_id"), col("n_bytes"), col("content_md5"),
                col("meta.lang").as("m_lang"),
                col("meta.n_chars").as("m_chars"))),

    // Decode path: synthesize real PNG bytes in one partition-wise
    // batch (Dataset[Media] with a genuine binary blob column — the
    // shape of reading stored media), then ImageIO-decode them in the
    // next. Both stages pipeline into a single stage, blobs never
    // shuffle, and the oracle predicts the decoded features from the
    // image contract.
    "multimodal_decode" -> ((s, d) => {
      import s.implicits._
      import ImageCodec._
      codecInput(s, d)
        .mapPartitions(encodeBatch _)
        .mapPartitions(decodeBatch _)
        .toDF()
    }),

    // Resize path: same typed batch shape — real PNG decode, then a
    // deterministic nearest-neighbor 2x downscale on the raster.
    "multimodal_resize" -> ((s, d) => {
      import s.implicits._
      import ImageCodec._
      codecInput(s, d)
        .mapPartitions(encodeBatch _)
        .mapPartitions(resizeBatch _)
        .toDF()
    }),

    // Audio path: synthesize real WAV bytes (RIFF container, PCM16) in
    // one partition-wise batch, decode them in the next — same pipeline
    // shape as the PNG decode gate with only the codec library swapped.
    // Blobs never shuffle; the oracle predicts sample-exact amplitude
    // stats from the audio contract (WAV PCM is lossless).
    "multimodal_audio_meta" -> ((s, d) => {
      import s.implicits._
      codecInput(s, d)
        .mapPartitions(AudioCodec.encodeBatch _)
        .mapPartitions(AudioCodec.decodeBatch _)
        .toDF()
    }),

    // Lossy-codec path: real JPEG encode→decode in the same batch shape.
    // Dims/pixel-count are container-lossless (oracled exactly); pixel
    // fidelity is verified in-query as a bounded max-error flag the
    // oracle expects to be uniformly true (see JpegCodec's scaladoc).
    "multimodal_decode_jpeg" -> ((s, d) => {
      import s.implicits._
      codecInput(s, d)
        .mapPartitions(JpegCodec.encodeBatch _)
        .mapPartitions(JpegCodec.decodeBatch _)
        .toDF()
    }),

    // Frame sampling: treat the blob as fixed 16-byte "frames", keep
    // every 4th — pure column ops (sequence/filter/explode), no UDF, so
    // the whole thing stays in codegen and blobs never leave their
    // partition.
    "multimodal_frame_sample" -> ((s, d) =>
      documents(s, d)
        .withColumn("blob", col("text").cast("binary"))
        .withColumn("nf", floor(length(col("blob")) / 16).cast("int"))
        .filter(col("nf") > 0)
        .withColumn("f", explode(expr(
          "filter(sequence(0, nf - 1), x -> x % 4 = 0)")))
        .select(col("doc_id"), col("f").as("frame_idx"),
                md5(expr("substring(blob, f * 16 + 1, 16)"))
                  .as("frame_md5"))),

    // Perceptual hash over the textured image fixture: real PNG
    // encode → binary column → ImageIO decode → 8×8 average-hash.
    // Blobs never shuffle; the hash index is the only thing that leaves
    // the scan stage.
    "multimodal_phash" -> ((s, d) => phashIndex(s, d)),

    // Image near-dup: LSH over the 64-bit hash — 4 bands of 16 bits,
    // docs sharing any band are candidates (pigeonhole: any pair within
    // Hamming 3 of each other shares a clean band; the ≤6 filter keeps
    // the verified near-dups). The band join carries (band_id, 2-byte
    // value, doc_id) only; Hamming verification is two XOR+bit_counts
    // on the joined-back halves — never pixels, never blobs.
    "multimodal_phash_neardup" -> ((s, d) => {
      val ph = phashIndex(s, d)
      val bands = ph.select(col("doc_id"), expr(
        "explode(array(" +
          "struct(0 as band_id, phash_hi % 65536 as band_val), " +
          "struct(1 as band_id, (phash_hi div 65536) % 65536 as band_val), " +
          "struct(2 as band_id, phash_lo % 65536 as band_val), " +
          "struct(3 as band_id, (phash_lo div 65536) % 65536 as band_val)" +
        ")) as band"))
        .select(col("doc_id"), col("band.band_id"), col("band.band_val"))
      val pairs = bands.as("a")
        .join(bands.as("b"), Seq("band_id", "band_val"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .filter(col("doc_a") < col("doc_b"))
        .distinct()
      pairs
        .join(ph.select(col("doc_id").as("doc_a"),
          col("phash_hi").as("hi_a"), col("phash_lo").as("lo_a")),
          Seq("doc_a"))
        .join(ph.select(col("doc_id").as("doc_b"),
          col("phash_hi").as("hi_b"), col("phash_lo").as("lo_b")),
          Seq("doc_b"))
        .withColumn("hamming",
          expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)")
            .cast("int"))
        .filter(col("hamming") <= 6)
        .select("doc_a", "doc_b", "hamming")
    })
  )

  /** Oracle analog of [[phashIndex]]: predicts the REAL decoded 8×8
    * samples from the texture contract (p(x,y) =
    * ((x+1)*(y+3)*(doc_id%97+5) + doc_id) % 256 at the nearest-neighbor
    * grid points), then packs the same two 32-bit average-hash halves. */
  private val phashCte: String =
    """dims AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + n_chars % 7 AS h
              FROM documents),
       smp AS (
         SELECT doc_id,
           flatten(list_transform(range(0, 8), y ->
             list_transform(range(0, 8), x ->
               (((x * w) // 8 + 1) * ((y * h) // 8 + 3) *
                (doc_id % 97 + 5) + doc_id) % 256))) AS s
         FROM dims),
       ph AS (
         SELECT doc_id,
           cast(list_aggregate(list_transform(range(0, 32), i ->
             CASE WHEN s[i + 1] * 64 >= list_aggregate(s, 'sum')
               THEN 1::bigint << i ELSE 0::bigint END), 'sum') as bigint)
             AS phash_hi,
           cast(list_aggregate(list_transform(range(0, 32), i ->
             CASE WHEN s[i + 33] * 64 >= list_aggregate(s, 'sum')
               THEN 1::bigint << i ELSE 0::bigint END), 'sum') as bigint)
             AS phash_lo
         FROM smp)"""

  val oracles: Map[String, String] = Map(
    // text is ASCII, so bytes == chars and the stub's byte arithmetic is
    // expressible over code points.
    "multimodal_meta" ->
      """SELECT doc_id,
         cast(strlen(text) as int) AS n_bytes,
         md5(text) AS content_md5,
         lang AS m_lang, n_chars AS m_chars
         FROM documents""",
    // The oracle predicts the REAL decoded values from the image
    // contract (w = 8 + doc_id%9, h = 8 + n_chars%7,
    // p(x,y) = (x + y*w + doc_id) % 256) — PNG is lossless 8-bit gray,
    // so the ImageIO round trip must recover exactly these.
    "multimodal_decode" ->
      """WITH dims AS (
           SELECT doc_id,
             8 + doc_id % 9 AS w, 8 + n_chars % 7 AS h
           FROM documents)
         SELECT doc_id,
           cast(w as int) AS width, cast(h as int) AS height,
           cast(w * h as bigint) AS n_pixels,
           cast(pix_sum as bigint) AS pix_sum,
           cast(pix_sum as double) / (w * h) AS mean_intensity
         FROM (
           SELECT doc_id, w, h,
             list_aggregate(flatten(list_transform(range(0, h), y ->
               list_transform(range(0, w),
                 x -> (x + y * w + doc_id) % 256))), 'sum') AS pix_sum
           FROM dims)""",
    // nearest-neighbor 2x downscale: out(x,y) = in(2x, 2y)
    "multimodal_resize" ->
      """WITH dims AS (
           SELECT doc_id,
             8 + doc_id % 9 AS w, 8 + n_chars % 7 AS h
           FROM documents)
         SELECT doc_id,
           cast((w + 1) // 2 as int) AS out_width,
           cast((h + 1) // 2 as int) AS out_height,
           cast(list_aggregate(flatten(
             list_transform(range(0, (h + 1) // 2), y ->
               list_transform(range(0, (w + 1) // 2),
                 x -> (2*x + 2*y * w + doc_id) % 256))), 'sum') as bigint)
             AS out_pix_sum
         FROM dims""",
    // JPEG is lossy: the oracle predicts the lossless container facts
    // (dims from the contract) and expects the in-query max-error bound
    // to hold for every doc
    "multimodal_decode_jpeg" ->
      """SELECT doc_id,
           cast(8 + doc_id % 9 as int) AS width,
           cast(8 + n_chars % 7 as int) AS height,
           cast((8 + doc_id % 9) * (8 + n_chars % 7) as bigint)
             AS n_pixels,
           true AS within_tol
         FROM documents""",
    // predicts the REAL decoded WAV from the audio contract: 8 kHz,
    // n = 64 + n_chars % 64 samples, s(i) = (doc_id*31+i*17)%65536-32768
    "multimodal_audio_meta" ->
      """WITH d AS (
           SELECT doc_id, 64 + n_chars % 64 AS n FROM documents),
         s AS (
           SELECT doc_id, n,
             list_transform(range(0, n),
               i -> (doc_id * 31 + i * 17) % 65536 - 32768) AS smp
           FROM d)
         SELECT doc_id,
           8000 AS sample_rate,
           cast(n as int) AS n_samples,
           cast(list_aggregate(smp, 'sum') as bigint) AS amp_sum,
           cast(list_aggregate(smp, 'min') as int) AS amp_min,
           cast(list_aggregate(smp, 'max') as int) AS amp_max
         FROM s""",
    "multimodal_frame_sample" ->
      """SELECT doc_id, cast(f as int) AS frame_idx,
         md5(substr(text, cast(f * 16 + 1 as int), 16)) AS frame_md5
         FROM (
           SELECT doc_id, text,
             unnest(list_filter(range(0, strlen(text) // 16),
               x -> x % 4 = 0)) AS f
           FROM documents
           WHERE strlen(text) >= 16)""",
    "multimodal_phash" ->
      s"""WITH $phashCte
         SELECT doc_id, phash_hi, phash_lo FROM ph""",
    "multimodal_phash_neardup" ->
      s"""WITH $phashCte,
         bands AS (
           SELECT doc_id, 0 AS band_id, phash_hi % 65536 AS band_val
             FROM ph
           UNION ALL SELECT doc_id, 1, (phash_hi // 65536) % 65536 FROM ph
           UNION ALL SELECT doc_id, 2, phash_lo % 65536 FROM ph
           UNION ALL SELECT doc_id, 3, (phash_lo // 65536) % 65536 FROM ph),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band_id = b.band_id AND a.band_val = b.band_val
           WHERE a.doc_id < b.doc_id),
         scored AS (
           SELECT doc_a, doc_b,
             cast(bit_count(xor(pa.phash_hi, pb.phash_hi)) +
                  bit_count(xor(pa.phash_lo, pb.phash_lo)) as int)
               AS hamming
           FROM pairs
           JOIN ph pa ON pa.doc_id = doc_a
           JOIN ph pb ON pb.doc_id = doc_b)
         SELECT doc_a, doc_b, hamming FROM scored WHERE hamming <= 6"""
  )
}
