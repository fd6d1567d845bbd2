package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for training-data pipelines: image/audio/video
  * treated as opaque `binary` columns with typed metadata, processed in
  * partition-sized batches.
  *
  * The Spark-side plumbing here — schema, binary transport, batched
  * `mapPartitions` execution, byte-budget repartitioning — is real and
  * tested, and so is the IMAGE half of the decode seam:
  * [[MediaDecoder.Real]] decodes PNG/JPEG/GIF/BMP through
  * `javax.imageio` (in every base JRE — no external codec package) and
  * extracts features from the decoded luma plane. Audio/video codecs
  * are not in this container, so non-image bytes fail loudly under
  * `Real`; [[MediaDecoder.Fake]] remains the deterministic byte-level
  * stand-in every synthetic fixture and oracle row uses. The two
  * decoders share one pipeline shape — swapping is a parameter, nothing
  * in the plan moves.
  *
  * Scale notes: media rows are large (MBs); the operators below
  * repartition by an explicit byte budget (`targetPartitionBytes`) rather
  * than row count, so a 100 TB corpus with skewed asset sizes still
  * produces balanced executor-sized partitions. Feature extraction is a
  * narrow per-partition pass — no shuffle until the (tiny) feature output.
  */
object Multimodal {

  final case class MediaMeta(width: Int, height: Int, sampleRate: Int,
                             durationMs: Long, format: String)
  final case class MediaRow(id: Long, modality: String, content: Array[Byte],
                            meta: MediaMeta)
  /** Per-asset feature row. All three numbers describe the DECODED
    * plane [[MediaDecoder.luma]] returns — pixel count / luma sum for
    * images, sample-frame count / sample sum for audio, raw byte count
    * / byte sum only under [[MediaDecoder.Fake]] — hence `n_plane`,
    * not `n_bytes`: under a real decoder it is NOT the payload size.
    */
  final case class MediaFeatures(id: Long, modality: String, n_plane: Long,
                                 byte_sum: Long, byte_mean: Double)

  /** The decode seam: a decoder maps opaque content bytes to a
    * single-channel pixel stream (the luma plane). Features and the
    * aHash sketch are computed over that plane, so the SAME downstream
    * arithmetic serves both the byte-level stand-in and real decodes.
    */
  sealed trait MediaDecoder extends Serializable {
    /** Decoded single-channel pixels, row-major. [[MediaDecoder.Fake]]
      * returns the raw bytes unchanged.
      */
    def luma(content: Array[Byte]): Array[Byte]
    /** (width, height) where the decoder knows them; None for the
      * byte-level stand-in.
      */
    def dims(content: Array[Byte]): Option[(Int, Int)]
    /** (plane length, plane sum mod 9973, plane mean) — deterministic,
      * exact, oracle-checkable arithmetic over [[luma]].
      */
    final def features(content: Array[Byte]): (Long, Long, Double) = {
      val px = luma(content)
      var sum = 0L
      var i = 0
      while (i < px.length) { sum += px(i) & 0xff; i += 1 }
      (px.length.toLong, sum % 9973L,
        if (px.length == 0) 0.0 else sum.toDouble / px.length)
    }
  }
  object MediaDecoder {
    /** JRE-native decode, images AND audio — no external codecs:
      * `javax.imageio` reads PNG/JPEG/GIF/BMP; `javax.sound.sampled`
      * reads PCM WAV/AIFF/AU. Image luma = integer BT.601
      * `(299·R + 587·G + 114·B) / 1000`, exact `g` for gray pixels
      * `(g,g,g)` since the weights sum to 1000. Audio "luma" = one
      * unsigned byte per decoded sample frame (first channel): the raw
      * byte for 8-bit unsigned PCM, the sign-flipped high byte
      * (`(s >> 8) + 128`) for 16-bit signed PCM — so a constant-
      * amplitude fixture's plane is CLOSED-FORM, like the constant-gray
      * PNG one. Bytes neither reader accepts (video, compressed audio —
      * those codecs are absent in this environment) fail loudly rather
      * than producing garbage features.
      */
    case object Real extends MediaDecoder {
      def luma(content: Array[Byte]): Array[Byte] = decodeImage(content) match {
        case Some(img) =>
          val w = img.getWidth
          val h = img.getHeight
          val out = new Array[Byte](w * h)
          var y = 0
          var i = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              out(i) = ((((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000).toByte
              i += 1
              x += 1
            }
            y += 1
          }
          out
        case None => decodeAudioLuma(content)
      }
      def dims(content: Array[Byte]): Option[(Int, Int)] =
        decodeImage(content).map(img => (img.getWidth, img.getHeight))

      private def decodeImage(content: Array[Byte]): Option[java.awt.image.BufferedImage] =
        Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content)))

      /** PCM audio through the base JRE's `javax.sound.sampled`:
        * 8-bit unsigned and 16-bit signed PCM (WAV's two native
        * encodings), first channel of each frame, little- or big-endian
        * per the container header.
        */
      private def decodeAudioLuma(content: Array[Byte]): Array[Byte] = {
        import javax.sound.sampled.{AudioFormat, AudioSystem, UnsupportedAudioFileException}
        val in =
          try AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(content))
          catch {
            case _: UnsupportedAudioFileException =>
              throw new IllegalArgumentException(
                "MediaDecoder.Real: content is neither a decodable image " +
                  "(javax.imageio) nor PCM audio (javax.sound.sampled); " +
                  "video/compressed-audio codecs are not present in this " +
                  "environment — use MediaDecoder.Fake for byte-level features")
          }
        try {
          val f = in.getFormat
          val pcm = in.readAllBytes()
          val frame = f.getFrameSize
          val n = pcm.length / frame
          val out = new Array[Byte](n)
          val enc = f.getEncoding
          var i = 0
          if (f.getSampleSizeInBits == 8 && enc == AudioFormat.Encoding.PCM_UNSIGNED) {
            while (i < n) { out(i) = pcm(i * frame); i += 1 }
          } else if (f.getSampleSizeInBits == 16 && enc == AudioFormat.Encoding.PCM_SIGNED) {
            val hi = if (f.isBigEndian) 0 else 1
            while (i < n) { out(i) = (pcm(i * frame + hi) + 128).toByte; i += 1 }
          } else throw new IllegalArgumentException(
            s"MediaDecoder.Real: unsupported PCM layout ${f} — " +
              "8-bit unsigned and 16-bit signed PCM are the supported shapes")
          out
        } finally in.close()
      }
    }
    /** Deterministic stand-in: the "plane" IS the raw bytes (exact,
      * oracle-checkable without any codec).
      */
    case object Fake extends MediaDecoder {
      def luma(content: Array[Byte]): Array[Byte] = content
      def dims(content: Array[Byte]): Option[(Int, Int)] = None
    }
  }

  /** Synthesize a media table from the documents table (content = UTF-8
    * bytes, modality round-robins image/audio/video, metadata derived
    * deterministically). Stands in for a real asset store at test scale.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        (col("n_chars") % 1920).cast("int").as("width"),
        (col("n_chars") % 1080).cast("int").as("height"),
        lit(16000).as("sampleRate"),
        (col("n_chars") * 10L).as("durationMs"),
        lit("stub").as("format")).as("meta"))

  /** Deterministic tiny PNG per id — the [[MediaDecoder.Real]] fixture
    * generator: a (8+id%8)×(8+id%5) constant-gray (g = id%256)
    * TYPE_INT_RGB image, PNG-encoded entirely in the JRE. Constant gray
    * survives both the (lossless) PNG round-trip and the BT.601 luma
    * exactly (luma(g,g,g) = g since 299+587+114 = 1000), so the
    * Real-decoded features are CLOSED-FORM in id — arithmetic a SQL
    * oracle replays: n = w·h, sum%9973 = (g·w·h)%9973, mean = g.
    */
  def syntheticPng(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val mk = udf((id: Long) => pngBytes(id))
    docs.select(col(idCol).as("id"), lit("image").as("modality"),
      mk(col(idCol)).as("content"))
  }

  private[operators] def pngBytes(id: Long): Array[Byte] = {
    require(id >= 0, s"syntheticPng ids must be non-negative, got $id")
    val w = (8 + id % 8).toInt
    val h = (8 + id % 5).toInt
    val g = (id % 256).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (g << 16) | (g << 8) | g
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic tiny WAV per id — the audio twin of [[syntheticPng]]:
    * `800 + id%211` frames of CONSTANT 16-bit PCM at 8 kHz mono, sample
    * value `(id%256 − 128) · 256`, hand-rolled canonical 44-byte RIFF
    * header (no encoder variance). The Real decoder's audio plane maps
    * a 16-bit sample to `(s >> 8) + 128`, so every plane byte is exactly
    * `g = id%256` and the decoded features are CLOSED-FORM in id:
    * n = 800 + id%211, sum%9973 = (g·n)%9973, mean = g.
    */
  def syntheticWav(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val mk = udf((id: Long) => wavBytes(id))
    docs.select(col(idCol).as("id"), lit("audio").as("modality"),
      mk(col(idCol)).as("content"))
  }

  private[operators] def wavBytes(id: Long): Array[Byte] = {
    require(id >= 0, s"syntheticWav ids must be non-negative, got $id")
    val n = (800 + id % 211).toInt
    val sample = (((id % 256) - 128) * 256).toShort
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(8000) // sample rate
      .putInt(8000 * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) { bb.putShort(sample); i += 1 }
    bb.array()
  }

  /** Batched feature extraction: one decoder instance per partition, one
    * pass over the rows (the mapInPandas/Arrow-batch shape, Scala-typed).
    */
  def extractFeatures(spark: SparkSession, media: DataFrame,
                      decoder: MediaDecoder = MediaDecoder.Fake): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("id"), col("modality"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, modality, content) =>
          val (n, s, m) = decoder.features(content)
          MediaFeatures(id, modality, n, s, m)
        }
      }
  }

  /** 64-bit average-hash (aHash) perceptual signature of a byte stream —
    * the classic image near-dup sketch (resize to 8×8, threshold each
    * cell against the global mean), expressed over the opaque content
    * bytes: byte i maps to cell `i*64/n` (the "resize"), bit g is set iff
    * cell g's mean exceeds the stream mean. The comparison is the exact
    * integer cross-multiply `sum_g·n > total·cnt_g` — no floating point,
    * so the DuckDB oracle replays the bits exactly. Cells are empty only
    * when n < 64 (bit stays 0). Safe from Long overflow up to ~190 MB
    * per asset (255·n² < 2⁶³).
    *
    * Over raw bytes this is the deterministic byte-level sketch the
    * synthetic fixtures oracle-check; [[aHashSigs(media:*]] with
    * [[MediaDecoder.Real]] runs the SAME function over decoded luma —
    * the classic perceptual aHash. Sketch, banding and pair machinery
    * are identical either way.
    */
  private[operators] def aHash64(content: Array[Byte]): Long = {
    val n = content.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < n) {
      val v = (content(i) & 0xff).toLong
      val g = (i.toLong * 64 / n).toInt
      sums(g) += v; cnts(g) += 1; total += v
      i += 1
    }
    var sig = 0L
    var g = 0
    while (g < 64) {
      if (cnts(g) > 0 && sums(g) * n > total * cnts(g)) sig |= (1L << g)
      g += 1
    }
    sig
  }

  private val aHashUdf = udf((content: Array[Byte]) => aHash64(content))

  /** Per-asset aHash signatures: (doc_id, simhash) — column names chosen
    * to feed [[Dedup.sigPairs]] directly. Map-only over the media scan.
    */
  def aHashSigs(media: DataFrame): DataFrame =
    media.select(col("id").as("doc_id"), aHashUdf(col("content")).as("simhash"))

  /** [[aHashSigs]] through a decoder: the hash runs over the DECODED
    * luma plane instead of the raw bytes — with [[MediaDecoder.Real]]
    * this is the classic perceptual aHash (re-encode-robust: a JPEG copy
    * of a PNG hashes near-identically because the decoded pixels, not
    * the container bytes, are sketched). Same map-only plan shape.
    */
  def aHashSigs(media: DataFrame, decoder: MediaDecoder): DataFrame = {
    val u = udf((content: Array[Byte]) => aHash64(decoder.luma(content)))
    media.select(col("id").as("doc_id"), u(col("content")).as("simhash"))
  }

  /** Media near-duplicate pairs: assets whose aHash signatures differ in
    * ≤ `maxHamming` bits — re-encoded/lightly-edited copies of the same
    * underlying asset. Candidates come from [[Dedup.sigPairs]]'s
    * pigeonhole banding (exact, no all-pairs scan); at 100 TB the sketch
    * pass is map-only over the (heavy) media scan and everything after
    * operates on 16-byte signature rows.
    */
  def mediaNearDupPairs(media: DataFrame, maxHamming: Int = 4): DataFrame =
    Dedup.sigPairs(aHashSigs(media), maxHamming)
      .toDF("id_a", "id_b", "hamming")

  /** Persisted media near-dup index — the asset-catalog shape: aHash
    * signatures banded and bucket-stored once ([[Dedup.writeSigIndex]]),
    * so a new media drop probes the accumulated catalog without
    * re-hashing a byte of it. The signature IS the verification evidence
    * (Hamming on stored sigs), so per-batch cost is the new drop's sketch
    * pass (the only touch of heavy media bytes) plus a co-partitioned
    * bucket join over 16-byte rows.
    */
  def writeMediaIndex(media: DataFrame, tableName: String,
                      buckets: Int = graft.util.IndexBuckets.Auto,
                      maxHamming: Int = 4): Unit =
    Dedup.writeSigIndex(aHashSigs(media), tableName, buckets, maxHamming)

  def appendToMediaIndex(media: DataFrame, tableName: String): Unit =
    Dedup.appendToSigIndex(aHashSigs(media), tableName)

  /** New assets within `maxHamming` of any indexed asset —
    * (id_new, id_index, hamming). `maxHamming` validated against the
    * index's write-time property (banding geometry must match).
    */
  def mediaNearDupAgainstIndex(newMedia: DataFrame, indexTable: String,
                               maxHamming: Int = 4): DataFrame =
    Dedup.sigPairsAgainstIndex(aHashSigs(newMedia), indexTable, maxHamming)
      .toDF("id_new", "id_index", "hamming")
}
