package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Multimodal-column plumbing: images/audio/video ride through the engine
  * as opaque `BINARY` columns with typed metadata, and per-item work
  * (decode / feature-extract / frame-sample) runs as narrow per-row or
  * per-partition transforms — never a shuffle of the payload bytes.
  *
  * The container ships no multimodal fixture table, so two corpora are
  * SYNTHESIZED deterministically from `documents`:
  *  - [[syntheticMedia]]: a GRFT header + dimension fields + the text
  *    bytes as payload — the opaque-container path ([[mediaMeta]] header
  *    slicing, [[frameSample]] fixed-stride framing).
  *  - [[syntheticImages]]: REAL PNG bytes (encoded with `javax.imageio`,
  *    pixel values a pure function of (doc_id, x, y)), genuinely decoded
  *    back by [[decodeFeatures]] — so the codec boundary is exercised for
  *    real, and the extracted pixel statistics are replayed by a DuckDB
  *    formula oracle. Video/audio codecs don't ship in the JDK; an
  *    ffmpeg-pipe or JNI decoder plugs into the same partition iterator.
  *
  * Scale notes: payload bytes stay columnar in parquet and are only
  * materialized inside the map task that consumes them; metadata-only
  * queries ([[mediaMeta]]) never read the payload column thanks to parquet
  * column pruning. Frame sampling is `sequence`+`transform` HOFs — codegen,
  * no UDF — and encode/decode are `mapPartitions` (one iterator per
  * partition, the Scala analogue of `mapInPandas` batch processing).
  */
object Multimodal {

  val magic = "GRFT"
  val headerBytes = 16 // "GRFT" + 4-digit width + 4-digit height + 4-digit channels

  /** Deterministic fake media corpus: one binary blob per document. */
  def syntheticMedia(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(
        lit(magic),
        lpad((lit(16) + col("doc_id") % 64).cast("string"), 4, "0"),
        lpad((lit(16) + (col("doc_id") * 7) % 64).cast("string"), 4, "0"),
        lpad((lit(1) + col("doc_id") % 3).cast("string"), 4, "0"),
        col("text")).cast(BinaryType).as("media"))

  /** Metadata extraction: header-only binary slicing — the payload column
    * is never touched, so a parquet-backed corpus prunes it from the scan. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    syntheticMedia(spark, dir).select(
      col("doc_id"),
      substring(col("media"), 1, 4).cast("string").as("magic"),
      substring(col("media"), 5, 4).cast("string").cast("int").as("width"),
      substring(col("media"), 9, 4).cast("string").cast("int").as("height"),
      substring(col("media"), 13, 4).cast("string").cast("int").as("channels"),
      (length(col("media")) - headerBytes).as("payload_bytes"))
      .orderBy("doc_id")

  /** Frame sampling: split the payload into fixed-size frames, keep every
    * `every`-th, fingerprint each with the portable md5-prefix hash
    * ([[Dedup.portableHash60]]) so the DuckDB oracle replays the whole
    * slice-and-hash pipeline. HOFs only — stays in whole-stage codegen. */
  def frameSample(spark: SparkSession, dir: String,
      frameBytes: Int = 64, every: Int = 4): DataFrame =
    syntheticMedia(spark, dir)
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, (length(media) - ${headerBytes + 1}) div $frameBytes),
             |  i -> substring(media, ${headerBytes + 1} + i * $frameBytes, $frameBytes))""".stripMargin)))
      .toDF("doc_id", "frame_idx", "frame")
      .filter(col("frame_idx") % every === 0)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).as("frame_bytes"),
        Dedup.fastHash60(spark, col("frame")).as("frame_hash"))
      .orderBy("doc_id", "frame_idx")

  /** DuckDB replay of [[frameSample]]: rebuilds the GRFT container as
    * VARCHAR and re-slices it. Byte-positions equal char-positions because
    * the fixture corpus is ASCII — the same equivalence [[mediaMeta]]'s
    * green oracle (payload_bytes = length(text)) already relies on. */
  def frameSampleOracleSql(frameBytes: Int = 64, every: Int = 4): String =
    s"""WITH media AS (
       |  SELECT doc_id,
       |    'GRFT' || lpad(CAST(16 + doc_id % 64 AS VARCHAR), 4, '0')
       |           || lpad(CAST(16 + (doc_id * 7) % 64 AS VARCHAR), 4, '0')
       |           || lpad(CAST(1 + doc_id % 3 AS VARCHAR), 4, '0')
       |           || text AS m
       |  FROM documents),
       | frames AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0, (length(m) - ${headerBytes + 1}) // $frameBytes))
       |      AS frame_idx,
       |    m FROM media)
       | SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       |   CAST(length(f) AS INTEGER) AS frame_bytes,
       |   CAST('0x' || substring(md5(f), 1, 15) AS BIGINT) AS frame_hash
       | FROM (SELECT doc_id, frame_idx,
       |         substring(m, ${headerBytes + 1} + frame_idx * $frameBytes, $frameBytes) AS f
       |       FROM frames WHERE frame_idx % $every = 0)
       | ORDER BY doc_id, frame_idx""".stripMargin

  /** Image dimensions as pure functions of doc_id (shared by the GRFT
    * header, the PNG synthesis, and the DuckDB formula oracle). */
  def imgWidth(id: Long): Int = (16 + id % 64).toInt
  def imgHeight(id: Long): Int = (16 + (id * 7) % 64).toInt

  /** Grayscale pixel value at (x, y) — pure in (doc_id, x, y) so the
    * decoded statistics are formula-replayable. */
  def pixelValue(id: Long, x: Int, y: Int): Int = ((x + 3L * y + 7L * id) % 256L).toInt

  /** Deterministic REAL-image corpus: one losslessly-encoded PNG per
    * document, built with `javax.imageio` inside the partition iterator
    * (encode is per-item work exactly like decode — no driver round-trip,
    * no shuffle of pixel data). */
  def syntheticImages(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    // encode is CPU-bound per-row work directly above a base scan; the
    // fixture table is one single-row-group file (one task), so spread
    // the doc_id column across the cores first (no-op at real scale —
    // Tables.spreadToCores). r18: the single-task encode+write made the
    // image-file fixture a 50 s wall (1 of 32 cores busy).
    Tables.spreadToCores(
      Tables.documents(spark, dir).select("doc_id"), col("doc_id"))
      .as[Long].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // in-memory encode, no /tmp spill
      it.map { id =>
        val (w, h) = (imgWidth(id), imgHeight(id))
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = pixelValue(id, x, y)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        (id, out.toByteArray)
      }
    }
  }

  final case class MediaFeature(doc_id: Long, width: Int, height: Int,
      n_pixels: Int, px_sum: Long)

  /** Per-partition REAL decode + feature extraction: `javax.imageio` parses
    * the PNG bytes back to pixels, and the emitted statistics (dimensions,
    * pixel-value sum) are checked two independent ways — MultimodalSpec
    * asserts them against [[pixelValue]] in-process, and the registered
    * `media_features` query hash-matches a DuckDB oracle that recomputes
    * the same sums by formula. The iterator shape is the production
    * contract (batch in, batch out, no driver round-trip). */
  def decodeFeatures(spark: SparkSession, dir: String): Dataset[MediaFeature] =
    decodeFeaturesOf(syntheticImages(spark, dir))

  /** [[decodeFeatures]] over an ARBITRARY (doc_id, png_bytes) corpus — the
    * form both the in-engine synthesis and the [[binaryIngestFeatures]]
    * file-source path feed. */
  def decodeFeaturesOf(images: Dataset[(Long, Array[Byte])]): Dataset[MediaFeature] = {
    import images.sparkSession.implicits._
    images.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { case (id, bytes) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        val (w, h) = (img.getWidth, img.getHeight)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            sum += (img.getRGB(x, y) & 0xff) // gray: any channel
            x += 1
          }
          y += 1
        }
        MediaFeature(id, w, h, w * h, sum)
      }
    }
  }

  private val imageDirs =
    graft.AppCache.namespace[String, String]("multimodal.image_dirs")

  /** Hadoop `Configuration` is not `Serializable`; this minimal wrapper
    * ships it to executor tasks via its own Writable form so
    * [[imageFilesDir]]'s per-partition writers can resolve the scratch
    * filesystem exactly as the driver would (any scheme, not just
    * `file:`). */
  private class SerConf(@transient var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** The synthetic PNG corpus written as REAL FILES, once per (session,
    * sf-dir) — the fixture for [[binaryIngestFeatures]]'s `binaryFile`
    * source. Executors write their own partition's files (no driver
    * round-trip) through the Hadoop filesystem of the scratch scheme —
    * local mode shares /tmp, a cluster points GRAFT_SCRATCH at shared
    * storage. */
  def imageFilesDir(spark: SparkSession, dir: String): String =
    imageDirs(spark, dir) {
      val d = graft.ext.Dfs.scratchDir(spark, "graft_images")
      val serConf = new SerConf(spark.sessionState.newHadoopConf())
      syntheticImages(spark, dir).foreachPartition {
        it: Iterator[(Long, Array[Byte])] =>
          val fs = new org.apache.hadoop.fs.Path(d).getFileSystem(serConf.conf)
          it.foreach { case (id, bytes) =>
            val out = fs.create(
              new org.apache.hadoop.fs.Path(d, f"img_$id%08d.png"), true)
            try out.write(bytes) finally out.close()
          }
      }
      d
    }

  /** Real SOURCE operator for the media family (the round-5 gap: decode
    * lineages ran only on in-engine synthesized bytes): ingest a directory
    * of image FILES through Spark's `binaryFile` source — one whole-file
    * row (path, content) per image, doc_id recovered from the file name —
    * and feed the SAME decode lineage as [[decodeFeatures]]. The
    * registered roundtrip query hash-matches the formula oracle, proving
    * file write → binaryFile scan → PNG decode end to end. At 100 TB this
    * is the ingestion shape for real image corpora (each task reads its
    * own file split; no payload shuffle), with the compaction step into
    * parquet binary columns being [[syntheticMedia]]'s layout. */
  def binaryIngestFeatures(spark: SparkSession, dir: String): Dataset[MediaFeature] = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png")
      .load(imageFilesDir(spark, dir))
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1).cast("long").as("doc_id"),
        col("content"))
      .as[(Long, Array[Byte])]
    decodeFeaturesOf(files)
  }

  val resizeTo = 8

  final case class ResizedFeature(doc_id: Long, out_w: Int, out_h: Int, px_sum: Long)

  /** REAL resize (the remaining multimodal verb next to decode /
    * feature-extract / frame-sample): decode the PNG, nearest-neighbor
    * downsample to [[resizeTo]]² by index sampling the decoded raster
    * (source pixel `(x·W/k, y·H/k)`, integer floor — the standard NN
    * kernel), and emit the resized pixel sum. Same per-partition iterator
    * contract as [[decodeFeatures]]; the DuckDB oracle replays the
    * sampled positions by formula, so the hash proves decode + resize
    * end to end. */
  def resizeFeatures(spark: SparkSession, dir: String): Dataset[ResizedFeature] = {
    import spark.implicits._
    val k = resizeTo
    syntheticImages(spark, dir).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { case (id, bytes) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        val (w, h) = (img.getWidth, img.getHeight)
        var sum = 0L
        var y = 0
        while (y < k) {
          var x = 0
          while (x < k) {
            sum += (img.getRGB(x * w / k, y * h / k) & 0xff)
            x += 1
          }
          y += 1
        }
        ResizedFeature(id, k, k, sum)
      }
    }
  }

  def resizeFeaturesOracleSql(): String = {
    val k = resizeTo
    s"""SELECT doc_id, $k AS out_w, $k AS out_h,
       | CAST(list_sum(list_transform(generate_series(0, ${k * k - 1}),
       |   i -> (((i % $k) * width // $k) + 3 * ((i // $k) * height // $k) + 7 * doc_id) % 256))
       |   AS BIGINT) AS px_sum
       | FROM (SELECT doc_id, 16 + doc_id % 64 AS width,
       |       16 + (doc_id * 7) % 64 AS height FROM documents)
       | ORDER BY doc_id""".stripMargin
  }

  /** DuckDB formula oracle for [[decodeFeatures]]: recomputes the decoded
    * pixel statistics from the defining formulas — a hash match proves the
    * encode -> PNG -> decode roundtrip is lossless end to end. */
  def decodeFeaturesOracleSql(): String =
    """SELECT doc_id, width, height, width * height AS n_pixels,
      | CAST(list_sum(list_transform(generate_series(0, width * height - 1),
      |   i -> (i % width + 3 * (i // width) + 7 * doc_id) % 256)) AS BIGINT) AS px_sum
      | FROM (SELECT doc_id, CAST(16 + doc_id % 64 AS INTEGER) AS width,
      |         CAST(16 + (doc_id * 7) % 64 AS INTEGER) AS height FROM documents)
      | ORDER BY doc_id""".stripMargin
}
