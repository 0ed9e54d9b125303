package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed by partition-parallel
  * decode functions.
  *
  * All decode tiers are REAL codecs since round 8 (JDK-only, so no
  * external library):
  *  - image ([[pngView]]/[[decodePng]]): deterministic real PNG payloads
  *    encoded and decoded with `javax.imageio` — width, height and the
  *    pixel checksum come from an actual codec roundtrip, oracle-graded;
  *  - audio ([[wavView]]/[[decodeWav]]): deterministic real RIFF/WAVE PCM
  *    payloads encoded and decoded with `javax.sound.sampled` — sample
  *    rate, channels, frame count and the sample checksum come from the
  *    decoded stream, oracle-graded (PCM WAV is lossless);
  *  - container sniffing ([[sniffMeta]]): magic-byte format detection over
  *    a MIXED corpus of genuine payloads (PNG / WAV / raw text), the
  *    dispatch step a media ingest runs before choosing a decoder.
  * The common shape is partition-parallel `mapPartitions` (the Scala
  * analog of `mapInPandas`: one iterator per partition, so codec discovery
  * and any model init amortize per partition, not per row).
  */
object Multimodal {

  final case class PngRow(doc_id: Long, payload: Array[Byte])
  final case class PngMeta(doc_id: Long, is_png: Boolean, width: Int,
                           height: Int, px_sum: Long)

  /** Deterministic REAL-PNG column: a grayscale image per document —
    * width `(doc_id % 13) + 1`, height `(doc_id % 7) + 1`, pixel
    * `(x, y) = (doc_id + 31x + 17y) % 256` — encoded by `javax.imageio`
    * into genuine compressed PNG bytes (signature, IHDR/IDAT/IEND, CRCs,
    * DEFLATE). The formula-derived shape is what lets the DuckDB oracle
    * grade a real codec roundtrip: PNG is lossless, so the decoder must
    * reproduce these exact numbers or the gate hash-mismatches. */
  /** Real PNG bytes for one doc id (the formula above). */
  private def encodePng(id: Long): Array[Byte] = {
    val w = (id % 13).toInt + 1
    val h = (id % 7).toInt + 1
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((id + 31L * x + 17L * y) % 256L).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    // an explicit memory-cached stream: handed a bare OutputStream, ImageIO
    // (useCache defaults to TRUE) spools through a FileCacheImageOutputStream
    // — a temp FILE created, written, read back and deleted PER IMAGE (r15;
    // the in-sweep q_multimodal_decode spikes were this disk churn under
    // load, not the codec). Wrapping locally keeps the JVM-global useCache
    // flag untouched; the encoded bytes are identical either way.
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, "png", out)
    finally out.close() // flushes into bos; bos itself stays open
    bos.toByteArray
  }

  def pngView(spark: SparkSession, dir: String,
              maxId: Option[Long] = None): Dataset[PngRow] = {
    import spark.implicits._
    val ids = Tables(spark, dir, "documents").select(col("doc_id"))
    maxId.fold(ids)(m => ids.filter(col("doc_id") < m)).as[Long]
      .mapPartitions(_.map(id => PngRow(id, encodePng(id))))
  }

  private val PngSignature =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  // ONE definition of each container check (review r11: the PNG/RIFF
  // magic-byte comparisons were hand-rolled at three sites — the sniff
  // dispatch and both decoders — and had to stay byte-identical)
  private def isPng(p: Array[Byte]): Boolean =
    p.length >= 8 && p.take(8).sameElements(PngSignature)
  private def isWav(p: Array[Byte]): Boolean =
    p.length >= 12 &&
      new String(p.slice(0, 4), "US-ASCII") == "RIFF" &&
      new String(p.slice(8, 12), "US-ASCII") == "WAVE"

  /** REAL decode via `javax.imageio`: container sniff (PNG signature
    * bytes), then a full codec roundtrip — width/height from the decoded
    * image, px_sum over the decoded raster. Fails loud on an undecodable
    * payload (a corrupt image must not silently become metadata). */
  def decodePng(spark: SparkSession, dir: String): Dataset[PngMeta] =
    decodePngRows(pngView(spark, dir))

  /** The codec tier itself, over ANY (doc_id, payload) source — shared by
    * the in-plan [[pngView]] path and the [[pngBinaryAudit]] binaryFile
    * ingestion path. */
  private def decodePngRows(rows: Dataset[PngRow]): Dataset[PngMeta] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.map { r =>
      val pngOk = isPng(r.payload)
      // memory-cached input stream, for the same reason as encodePng: a
      // bare InputStream would route every decode through a temp-file
      // FileCacheImageInputStream under the global default. ImageIO.read
      // closes the stream it is handed.
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(r.payload)))
      require(img != null, s"doc ${r.doc_id}: payload is not a decodable image")
      val raster = img.getRaster
      var s = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { s += raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      PngMeta(r.doc_id, pngOk, img.getWidth, img.getHeight, s)
    }
  }

  /** The oracle-graded real-decoder query: every reported number has
    * passed through an actual PNG encode + decode. */
  def pngMetaQuery(spark: SparkSession, dir: String): DataFrame =
    decodePng(spark, dir).toDF().orderBy(col("doc_id"))

  /** The binaryFile INGESTION variant of the PNG audit (r8 verdict #5 —
    * promoting the FormatsSpec-only path into the driver's correctness
    * gate): real PNG payloads are staged as individual `.png` FILES, read
    * back through Spark's `binaryFile` source (path-derived doc id,
    * pathGlobFilter — the media-lake directory-scan shape), and pushed
    * through the same `javax.imageio` decode tier; the oracle recomputes
    * the lossless roundtrip analytically, so a byte lost anywhere in
    * stage → scan → decode hash-mismatches.
    *
    * The stage step collects `maxDocs` (default 64) payloads driver-side
    * to write local files — bounded BY CONSTRUCTION and guarded, the demo
    * stand-in for a media lake that already exists on shared storage; the
    * scan+decode side is the real distributed path (binaryFile splits by
    * file, decode is partition-parallel). */
  def pngBinaryAudit(spark: SparkSession, dir: String,
                     maxDocs: Int = 64): DataFrame = {
    require(maxDocs >= 1 && maxDocs <= 4096,
      s"pngBinaryAudit maxDocs must be in [1, 4096] (driver stages the files); got $maxDocs")
    import spark.implicits._
    val root = s"${sys.props("java.io.tmpdir")}/graft_binf_" +
      spark.sparkContext.applicationId
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(rp)) fs.delete(rp, true)
    TwoBatchScratch.registerCleanup(root)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    // filter doc_id BEFORE the typed encode map: the filter cannot push
    // through mapPartitions, so the post-map form encoded a PNG for every
    // document in the corpus just to stage maxDocs files (review r11)
    pngView(spark, dir, maxId = Some(maxDocs.toLong)).collect()
      .foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$root/${r.doc_id}.png"), r.payload)
      }
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(root)
      .select(
        expr("cast(regexp_extract(path, '([0-9]+)\\\\.png$', 1) as long)")
          .as("doc_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) => PngRow(id, bytes) }
    decodePngRows(files).toDF().orderBy(col("doc_id"))
  }

  final case class WavRow(doc_id: Long, payload: Array[Byte])
  final case class WavMeta(doc_id: Long, is_wav: Boolean, sample_rate: Int,
                           channels: Int, n_frames: Long, sample_sum: Long)

  /** Real RIFF/WAVE bytes for one doc id: 16-bit signed little-endian PCM,
    * sample rate `8000 * (doc_id % 3 + 1)`, `(doc_id % 2) + 1` channels,
    * `(doc_id % 50) + 10` frames, sample
    * `(frame i, channel c) = ((doc_id*7 + 31i + 17c) mod 65536) - 32768` —
    * encoded by `javax.sound.sampled` into a genuine WAV container (RIFF
    * header, fmt/data chunks). The formula-derived shape is what lets the
    * DuckDB oracle grade a real codec roundtrip: PCM WAV is lossless, so
    * the decoder must reproduce these exact numbers or the gate
    * hash-mismatches. */
  private def encodeWav(id: Long): Array[Byte] = {
    val rate = 8000 * ((id % 3).toInt + 1)
    val ch = (id % 2).toInt + 1
    val nFrames = (id % 50).toInt + 10
    val data = new Array[Byte](nFrames * ch * 2)
    var off = 0
    var i = 0
    while (i < nFrames) {
      var c = 0
      while (c < ch) {
        val s = (((id * 7 + 31L * i + 17L * c) % 65536L) - 32768L).toInt
        data(off) = (s & 0xff).toByte
        data(off + 1) = ((s >> 8) & 0xff).toByte
        off += 2
        c += 1
      }
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, ch,
      true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic REAL-WAV column — the audio analog of [[pngView]]. */
  def wavView(spark: SparkSession, dir: String): Dataset[WavRow] = {
    import spark.implicits._
    Tables(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => WavRow(id, encodeWav(id))))
  }

  /** REAL audio decode via `javax.sound.sampled`: container sniff (RIFF +
    * WAVE magic), then a full codec roundtrip — sample rate, channel count
    * and frame length from the decoded [[javax.sound.sampled.AudioFormat]],
    * and a checksum over every decoded 16-bit sample. Fails loud on an
    * undecodable payload (a corrupt file must not silently become
    * metadata). */
  def decodeWav(spark: SparkSession, dir: String): Dataset[WavMeta] = {
    import spark.implicits._
    wavView(spark, dir).mapPartitions { it =>
      it.map { r =>
        val p = r.payload
        val wavOk = isWav(p)
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(p))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
          s"doc ${r.doc_id}: unexpected decoded PCM layout $fmt")
        val nFrames = ais.getFrameLength
        val bytes = ais.readAllBytes()
        var s = 0L
        var i = 0
        while (i + 1 < bytes.length) {
          s += ((bytes(i) & 0xff) | (bytes(i + 1) << 8)).toShort
          i += 2
        }
        WavMeta(r.doc_id, wavOk, fmt.getSampleRate.toInt, fmt.getChannels,
          nFrames, s)
      }
    }
  }

  /** The oracle-graded real-audio query: every reported number has passed
    * through an actual WAV encode + decode. */
  def wavMetaQuery(spark: SparkSession, dir: String): DataFrame =
    decodeWav(spark, dir).toDF().orderBy(col("doc_id"))

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class SniffMeta(doc_id: Long, format: String, expected: String,
                             container_ok: Boolean)

  /** Binary-payload view of `documents` (payload = utf8 bytes — the fixture
    * has no real media; the binary column type and everything downstream is
    * the real contract). */
  def binaryView(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  /** A MIXED media corpus of genuine containers — `doc_id % 3` selects a
    * real PNG payload, a real WAV payload, or the raw UTF-8 text bytes.
    * The heterogeneous-binary-column shape a multimodal ingest actually
    * sees, and the fixture [[sniffMeta]] dispatches over. */
  def mixedMediaView(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        MediaRow(id, (id % 3) match {
          case 0 => encodePng(id)
          case 1 => encodeWav(id)
          // a NULL text is a missing blob -> EMPTY payload, which sniffs
          // as txt like any non-container bytes (r12 fuzz: the bare
          // getBytes NPE'd the whole partition on one null row)
          case _ => Option(text).getOrElse("").getBytes("UTF-8")
        })
      })
  }

  /** REAL container sniffing over the mixed corpus: magic-byte format
    * detection (PNG signature; RIFF....WAVE), falling back to `txt` — the
    * decoder-dispatch step of a media ingest. `expected` recomputes the
    * modality from the id, so the oracle grades that sniffing a genuine
    * container recovered the right format for every row. */
  def sniffMeta(spark: SparkSession, dir: String): Dataset[SniffMeta] = {
    import spark.implicits._
    mixedMediaView(spark, dir).mapPartitions { it =>
      it.map { r =>
        val p = r.payload
        val format =
          if (isPng(p)) "png"
          else if (isWav(p)) "wav"
          else "txt"
        val expected = (r.doc_id % 3) match {
          case 0 => "png"
          case 1 => "wav"
          case _ => "txt"
        }
        SniffMeta(r.doc_id, format, expected, format == expected)
      }
    }
  }

  /** The oracle-checkable sniff query (q_multimodal_meta): one row per doc
    * with the sniffed and expected formats. */
  def metaQuery(spark: SparkSession, dir: String): DataFrame =
    sniffMeta(spark, dir).toDF().orderBy(col("doc_id"))

  final case class MediaFeature(doc_id: Long, feature: Array[Float])
  final case class MediaThumb(doc_id: Long, thumb: Array[Byte])

  /** Feature extraction: payload -> fixed-length Float vector, the batch
    * shape an embedding model produces. The featurizer is a real (if
    * simple) model-free one — an L1-normalized byte histogram over `dims`
    * bins, the classic cheap content fingerprint; a learned model slots in
    * at the same mapPartitions boundary, loading once per partition and
    * running batched inference. Output plugs straight into the Similarity
    * operators (Array[Float] embedding column). */
  def featureExtract(spark: SparkSession, dir: String,
                     dims: Int = 16): Dataset[MediaFeature] = {
    import spark.implicits._
    binaryView(spark, dir).as[MediaRow]
      .mapPartitions { it =>
        // real model init would go here, once per partition
        it.map { r =>
          val hist = new Array[Float](dims)
          var i = 0
          while (i < r.payload.length) {
            hist((r.payload(i) & 0xff) % dims) += 1f; i += 1
          }
          val total = math.max(1f, r.payload.length.toFloat)
          var j = 0
          while (j < dims) { hist(j) /= total; j += 1 }
          MediaFeature(r.doc_id, hist)
        }
      }
  }

  /** Resize: payload -> fixed-size thumbnail bytes via nearest-neighbor
    * stride sampling over the byte stream. Constant output size regardless
    * of input — the contract a downstream fixed-shape tensor loader
    * needs; an interpolating image scaler slots in at the same boundary. */
  def resize(spark: SparkSession, dir: String, outBytes: Int = 32): Dataset[MediaThumb] = {
    import spark.implicits._
    binaryView(spark, dir).as[MediaRow]
      .mapPartitions(_.map { r =>
        val out = new Array[Byte](outBytes)
        if (r.payload.nonEmpty) {
          val stride = math.max(1.0, r.payload.length.toDouble / outBytes)
          var i = 0
          while (i < outBytes) {
            out(i) = r.payload(math.min(r.payload.length - 1, (i * stride).toInt))
            i += 1
          }
        }
        MediaThumb(r.doc_id, out)
      })
  }

  /** "Frame sampling" on an opaque payload: every nth fixed-size chunk —
    * the batch shape a video pipeline needs (doc_id, frame_no, frame_bytes). */
  def frameSample(spark: SparkSession, dir: String, frameSize: Int = 64,
                  every: Int = 4): DataFrame =
    binaryView(spark, dir)
      // empty payloads emit NO frames: Spark's sequence(0, -1) DESCENDS
      // ([0, -1], not empty) so the unguarded form emitted a phantom
      // frame_no=0 (and, with every=1, frame_no=-1) for a zero-byte
      // payload (review r11); slice(sequence(0,0),1,0) is the typed
      // empty-int-array literal
      .withColumn("frame_no", explode(expr(
        s"filter(CASE WHEN octet_length(payload) = 0 " +
          s"THEN slice(sequence(0, 0), 1, 0) " +
          s"ELSE sequence(0, int(floor((octet_length(payload) - 1) / $frameSize))) END, " +
          s"i -> i % $every = 0)")))
      .select(col("doc_id"), col("frame_no"),
        expr(s"substring(payload, frame_no * $frameSize + 1, $frameSize)").as("frame"))

  /** Cross-modal alignment join: text rows to their embedding rows by id —
    * the everyday join of a multimodal training pipeline (captions to image
    * embeddings, documents to their vectors). Both sides are keyed on the
    * id, so this is one co-partitioned shuffle join at any scale; with both
    * tables bucketed by id on disk it is shuffle-free. */
  def textEmbedJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        round(expr("graft_norm(transform(embedding, x -> cast(x as double)))"), 4)
          .as("norm"))
    d.join(e, d("doc_id") === e("vec_id"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("norm"), col("label"))
      .orderBy(col("doc_id"))
  }
}
