package graft.sources.unstructured

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{DataSourceSpec, TagField}

import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

/** Unstructured file sources (SURVEY.md §2.3-2.4) re-expressed Spark-first:
  * instead of a hand-rolled FileScan/PartitionReaderFactory (the reference's
  * UnstructuredFilePartitionReaderFactory.scala), every table is a DataFrame
  * program over Spark's `binaryFile` format — which already provides
  * distributed listing, partition discovery (parts_scan), recursive lookup,
  * column pruning (content bytes are only read when the content column is
  * projected) and path/length filter pushdown.
  *
  * Scan types (reference: UnstructuredData.ScanType:76-89):
  *  - file_scan       top-level files only
  *  - recursive_scan  walks subdirs, adds a `subdir` column
  *  - parts_scan      Hive-style key=value partition dirs become columns
  *
  * Tag sidecars: `<file>.tag` JSON files joined on path (reference:
  * UnstructuredFilePartitionReaderFactory.scala:106-116). The sidecar frame
  * is tiny (one row per tagged file) so Spark broadcasts the join.
  *
  * PDF text extraction and video codec metadata need PDFBox /
  * metadata-extractor which are not shipped offline; those fields go through
  * the pluggable [[ContentExtractor]] whose default emits a documented
  * deterministic fallback (byte-preview / extension-derived format). Image
  * width/height/thumbnail use JDK javax.imageio + java.awt only.
  */
object Unstructured {

  val PreviewBytes = 1024
  val ThumbnailMaxDim = 96

  def contentSchema(filetype: String): StructType = filetype match {
    case "text" => StructType(Seq(StructField("path", StringType),
      StructField("textcontent", StringType)))
    case "pdf" => StructType(Seq(StructField("path", StringType),
      StructField("textcontent", StringType), StructField("bincontent", BinaryType),
      StructField("imagedims", org.apache.spark.sql.types.ArrayType(
        StructType(Seq(StructField("width", IntegerType),
          StructField("height", IntegerType))))),
      StructField("images", org.apache.spark.sql.types.ArrayType(BinaryType))))
    case "image" => StructType(Seq(StructField("path", StringType),
      StructField("imagecontent", BinaryType)))
    case _ => StructType(Seq(StructField("path", StringType),
      StructField("bincontent", BinaryType)))
  }

  private def reader(spark: SparkSession, ds: DataSourceSpec) = {
    val scanType = ds.options.getOrElse("scanType", "file_scan")
    var r = spark.read.format("binaryFile")
    if (scanType == "recursive_scan") r = r.option("recursiveFileLookup", "true")
    ds.options.get("pathGlobFilter").foreach(g => r = r.option("pathGlobFilter", g))
    r
  }

  private def basePath(ds: DataSourceSpec): String = ds.options("path")

  /** Hadoop Configuration is not Serializable; minimal wrapper so the capped
    * reader can ship it in a closure (Spark's own SerializableConfiguration
    * is private[spark]).
    */
  private class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = value.write(out)
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Raw (path, modificationTime, length, content) excluding tag sidecars.
    *
    * `maxBytes` option: per-source cap on content bytes read per file —
    * only the first N bytes are fetched, so one stray multi-GB file can't
    * OOM an executor materializing a whole-file row (the reference caps the
    * FileSplit length the same way, HadoopBinaryFileReader.scala:32-46).
    * Metadata-only queries still never open the file at all (the capped
    * reader is a deterministic projection, pruned like the content column).
    */
  private def rawFiles(spark: SparkSession, ds: DataSourceSpec): DataFrame = {
    val df = reader(spark, ds).load(basePath(ds)).where(!col("path").endsWith(".tag"))
    ds.options.get("maxBytes").map(_.toLong) match {
      case Some(cap) if cap > 0 =>
        val hconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
        val readCapped = udf { (path: String, len: Long) =>
          val p = new org.apache.hadoop.fs.Path(new java.net.URI(path))
          val fs = p.getFileSystem(hconf.value)
          val n = math.min(cap, len).toInt
          val buf = new Array[Byte](n)
          val in = fs.open(p)
          try in.readFully(0, buf, 0, n) finally in.close()
          buf
        }
        df.withColumn("content", readCapped(col("path"), col("length")))
      case _ => df
    }
  }

  /** Per-file tag values parsed from sidecar JSON; null-filled when absent. */
  private def withTags(spark: SparkSession, ds: DataSourceSpec, df: DataFrame): DataFrame = {
    if (ds.tags.isEmpty) return df
    val tagSchema = StructType(ds.tags.map(_.toStructField))
    val sidecars = reader(spark, ds).option("pathGlobFilter", "*.tag").load(basePath(ds))
      .select(
        expr("substring(path, 1, length(path) - 4)").as("__data_path"),
        from_json(col("content").cast("string"), tagSchema).as("__tags"))
    df.join(broadcast(sidecars), df("path") === sidecars("__data_path"), "left")
      .drop("__data_path")
      .select((df.columns.map(col) ++ ds.tags.map(t => col(s"__tags.${t.name}").as(t.name))).toIndexedSeq: _*)
  }

  /** subdir (recursive_scan) / partition columns (parts_scan) extras. */
  private def scanTypeColumns(ds: DataSourceSpec, df: DataFrame): DataFrame = {
    val scanType = ds.options.getOrElse("scanType", "file_scan")
    if (scanType != "recursive_scan") df
    else {
      val base = basePath(ds).stripSuffix("/")
      df.withColumn("subdir",
        regexp_extract(col("path"), s"^(?:file:)?${java.util.regex.Pattern.quote(base)}/(.*)/[^/]+$$", 1))
    }
  }

  // ---- per-format metadata tables ----

  def metadataTable(spark: SparkSession, ds: DataSourceSpec): DataFrame = {
    val filetype = ds.sourceType.toLowerCase
    val raw = rawFiles(spark, ds)
    // parts_scan: hive-style key=value dirs surface as partition columns
    // (discovered by the binaryFile file index; reference:
    // UnstructuredFileTable.scala:114-125)
    val partitionCols = raw.columns.toSeq
      .filterNot(Set("path", "modificationTime", "length", "content"))
    val base = raw.select(
      (Seq(
        lit(filetype).as("filetype"),
        col("path"),
        col("modificationTime").as("modifiedat"),
        col("length").as("sizeinbytes"),
        col("content")) ++ partitionCols.map(col)): _*)
    val typed = filetype match {
      case "text" | "pdf" =>
        base.withColumn("preview", ContentExtractor.textPreview(col("content")))
      case "image" =>
        base
          .withColumn("__dims", ContentExtractor.imageDims(col("content")))
          .withColumn("width", col("__dims._1"))
          .withColumn("height", col("__dims._2"))
          .withColumn("imagethumbnail", ContentExtractor.thumbnail(col("content")))
          .drop("__dims")
      case "video" =>
        base
          .withColumn("format", ContentExtractor.videoFormat(col("path")))
          .withColumn("__v", ContentExtractor.videoMeta(col("content")))
          .withColumn("duration", col("__v.durationMs"))
          .withColumn("width", col("__v.width"))
          .withColumn("height", col("__v.height"))
          .drop("__v")
      case "audio" =>
        // the same native Catalyst expression the SQL surface exposes as
        // audio_info — header probes only, no payload decode
        base
          .withColumn("__a", graft.functions.GraftFunctions.audio_info(col("content")))
          .withColumn("samplerate", col("__a.sample_rate"))
          .withColumn("duration", col("__a.duration_ms"))
          .drop("__a")
      case _ => base
    }
    scanTypeColumns(ds, withTags(spark, ds, typed.drop("content")))
  }

  /** The `<ds>.content` sub-table (reference: PdfTable.scala:37-51). */
  def contentTable(spark: SparkSession, ds: DataSourceSpec): DataFrame = {
    val filetype = ds.sourceType.toLowerCase
    val raw = rawFiles(spark, ds)
    filetype match {
      case "text" => raw.select(col("path"),
        col("content").cast("string").as("textcontent"))
      case "pdf" => raw.select(col("path"),
        ContentExtractor.pdfText(col("content"), ds.options.getOrElse("password", ""))
          .as("textcontent"),
        col("content").as("bincontent"),
        ContentExtractor.pdfImageDims(col("content"),
          ds.options.getOrElse("password", "")).as("imagedims"),
        ContentExtractor.pdfImages(col("content"),
          ds.options.getOrElse("password", "")).as("images"))
      case "image" => raw.select(col("path"), col("content").as("imagecontent"))
      case _ => raw.select(col("path"), col("content").as("bincontent"))
    }
  }

  def tableSchema(spark: SparkSession, ds: DataSourceSpec): StructType =
    StructType(metadataTable(spark, ds).schema.fields)
}

/** Pluggable content extraction. PDF text and video stream metadata require
  * libs absent offline (PDFBox, metadata-extractor) — their defaults here are
  * clearly-marked deterministic fallbacks; image handling is full-fidelity
  * via the JDK (reference equivalents: PdfReaderFactory.scala:52-67,
  * ImageReaderFactory.scala:37-69, VideoReaderFactory.scala:36-107).
  */
object ContentExtractor {

  /** Decode-call counter (local-mode observable): proves projection pruning
    * skips content decodes when content-dependent columns aren't selected.
    */
  val decodeCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** UTF-8 preview of the first [[Unstructured.PreviewBytes]] bytes — pure
    * built-ins (substring on binary + decode), so it stays inside whole-stage
    * codegen instead of a UDF. A multi-byte character cut at the boundary
    * decodes to U+FFFD, the same behavior the previous UDF had
    * (`new String(bytes.take(n), UTF_8)`).
    */
  def textPreview(content: Column): Column =
    org.apache.spark.sql.functions.decode(
      org.apache.spark.sql.functions.substring(content, 1, Unstructured.PreviewBytes), "UTF-8")

  /** PDF text: dependency-free extraction of Tj/TJ strings from unfiltered
    * and FlateDecode content streams ([[PdfText]]). PDFs outside that subset
    * (CID fonts, LZW/ASCII85, encryption — PDFBox territory, jar absent
    * offline) fall back to the printable-ASCII-run heuristic so the column
    * is always populated deterministically.
    */
  def pdfText(content: Column, password: String = ""): Column = {
    val pwd = password.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val f = udf { bytes: Array[Byte] =>
      if (bytes == null) null
      else {
        val structured = try PdfText.extract(bytes, password = pwd)
          catch { case _: Exception => "" }
        if (structured.nonEmpty) structured
        else new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
          .replaceAll("[^\\x20-\\x7E\\n]+", " ").trim.take(10000)
      }
    }
    f(content)
  }

  /** Embedded image dimensions of a PDF — `array<struct<width, height>>`,
    * empty for text-only documents. The dimensions-parity surface
    * image-only PDFs were missing ([[PdfText.extractImageDims]]).
    */
  def pdfImageDims(content: Column, password: String = ""): Column = {
    val pwd = password.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val f = udf { bytes: Array[Byte] =>
      if (bytes == null) null
      else try PdfText.extractImageDims(bytes, password = pwd)
        catch { case _: Exception => Seq.empty[(Int, Int)] }
    }
    f(content).cast(org.apache.spark.sql.types.ArrayType(
      StructType(Seq(StructField("width", IntegerType),
        StructField("height", IntegerType)))))
  }

  /** Embedded images of a PDF as standalone ImageIO-readable bytes —
    * `array<binary>` (JPEG payloads as-is, Flate raster samples as PNG;
    * see [[PdfText.extractImages]]). `explode` this into the perceptual
    * dedup / feature operators to treat scanned PDFs as image corpora.
    */
  def pdfImages(content: Column, password: String = ""): Column = {
    val pwd = password.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val f = udf { bytes: Array[Byte] =>
      if (bytes == null) null
      else try PdfText.extractImages(bytes, password = pwd)
        catch { case _: Exception => Seq.empty[Array[Byte]] }
    }
    f(content)
  }

  def imageDims(content: Column): Column = {
    val f = udf { bytes: Array[Byte] =>
      try {
        val img = ImageIO.read(new ByteArrayInputStream(bytes))
        if (img == null) webpDims(bytes).orElse(heifDims(bytes)) match {
          case Some((w, h)) => (Some(w), Some(h))
          case None => (null: Option[Int], null: Option[Int])
        }
        else (Some(img.getWidth), Some(img.getHeight))
      } catch { case _: Exception => (None, None) }
    }
    f(content)
  }

  /** HEIC/AVIF dimensions: ISO-BMFF brands (ftyp heic/heix/mif1/avif/avis)
    * carry an `ispe` (image spatial extents) property box — fixed 20-byte
    * layout: size, 'ispe', version+flags, u32be width, u32be height. The
    * probe validates the brand AND the box's size field before trusting a
    * fourcc hit, so payload decoys don't produce dimensions.
    */
  private[graft] def heifDims(bytes: Array[Byte]): Option[(Int, Int)] = try {
    def tag(o: Int) = if (o + 4 > bytes.length) "" else new String(bytes, o, 4, "ISO-8859-1")
    def u32be(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
      ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    if (bytes.length < 24 || tag(4) != "ftyp") return None
    val brands = Set("heic", "heix", "mif1", "avif", "avis")
    if (!brands.contains(tag(8))) return None
    var i = 12
    // byte-compare, no per-offset String allocation: this scans every offset
    // of (potentially maxBytes-capped) image payloads inside a UDF
    while (i + 16 <= bytes.length) { // ispe spans i-4 .. i+16
      if (bytes(i) == 'i' && bytes(i + 1) == 's' && bytes(i + 2) == 'p' &&
          bytes(i + 3) == 'e' && i >= 4 && u32be(i - 4) == 20L) {
        val w = u32be(i + 8); val h = u32be(i + 12)
        if (w > 0 && h > 0 && w <= Int.MaxValue && h <= Int.MaxValue)
          return Some((w.toInt, h.toInt))
      }
      i += 1
    }
    None
  } catch { case _: Exception => None }

  /** WEBP dimensions from a pure-byte header probe — ImageIO has no WEBP
    * reader, but web corpora are full of it. Covers the three container
    * layouts: 'VP8 ' lossy (14-bit dims after the 0x9D012A start code),
    * 'VP8L' lossless (14-bit packed dims after the 0x2F signature), and
    * 'VP8X' extended (24-bit LE canvas dims). RIFF chunks walked by their
    * lacing, word-aligned.
    */
  private[graft] def webpDims(bytes: Array[Byte]): Option[(Int, Int)] = try {
    def tag(o: Int) = if (o + 4 > bytes.length) "" else new String(bytes, o, 4, "ISO-8859-1")
    def u32le(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def u16le(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u24le(o: Int): Int =
      (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) | ((bytes(o + 2) & 0xff) << 16)
    if (bytes.length < 20 || tag(0) != "RIFF" || tag(8) != "WEBP") return None
    var off = 12
    while (off + 8 <= bytes.length) {
      val id = tag(off)
      val size = u32le(off + 4)
      if (size < 0 || size > Int.MaxValue - 16) return None
      val p = off + 8
      id match {
        case "VP8 " if p + 10 <= bytes.length &&
            (bytes(p + 3) & 0xff) == 0x9d && (bytes(p + 4) & 0xff) == 0x01 &&
            (bytes(p + 5) & 0xff) == 0x2a =>
          return Some((u16le(p + 6) & 0x3fff, u16le(p + 8) & 0x3fff))
        case "VP8L" if p + 5 <= bytes.length && (bytes(p) & 0xff) == 0x2f =>
          val b1 = bytes(p + 1) & 0xff; val b2 = bytes(p + 2) & 0xff
          val b3 = bytes(p + 3) & 0xff; val b4 = bytes(p + 4) & 0xff
          return Some((1 + (((b2 & 0x3f) << 8) | b1),
            1 + (((b4 & 0x0f) << 10) | (b3 << 2) | ((b2 & 0xc0) >> 6))))
        case "VP8X" if p + 10 <= bytes.length =>
          return Some((1 + u24le(p + 4), 1 + u24le(p + 7)))
        case _ =>
      }
      off = p + size.toInt + (size.toInt & 1) // chunks are word-aligned
    }
    None
  } catch { case _: Exception => None }

  /** PNG thumbnail scaled to fit [[Unstructured.ThumbnailMaxDim]], JDK-only
    * (java.awt scaling, reference uses Thumbnailator: UnstructuredData.thumbnailImage:195-202).
    */
  def thumbnail(content: Column): Column = {
    val f = udf { bytes: Array[Byte] =>
      decodeCalls.incrementAndGet()
      try {
        val img = ImageIO.read(new ByteArrayInputStream(bytes))
        if (img == null) null
        else {
          val m = Unstructured.ThumbnailMaxDim
          val scale = math.min(1.0, m.toDouble / math.max(img.getWidth, img.getHeight))
          val (w, h) = (math.max(1, (img.getWidth * scale).toInt), math.max(1, (img.getHeight * scale).toInt))
          val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.drawImage(img.getScaledInstance(w, h, java.awt.Image.SCALE_SMOOTH), 0, 0, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          ImageIO.write(out, "png", bos)
          bos.toByteArray
        }
      } catch { case _: Exception => null }
    }
    f(content)
  }

  def videoFormat(path: Column): Column =
    upper(regexp_extract(path, "\\.([^.]+)$", 1))

  /** Video duration/width/height via the dependency-free container probes:
    * MP4/ISO-BMFF boxes ([[Mp4Meta]]), RIFF/AVI headers, and EBML
    * (Matroska/WebM) elements ([[VideoContainers]]). Formats beyond those
    * (e.g. MPEG-TS, OGG) yield nulls — full codec-level coverage is
    * metadata-extractor territory, jar absent offline.
    */
  def videoMeta(content: Column): Column = {
    val f = udf { bytes: Array[Byte] => VideoContainers.parse(bytes) }
    f(content)
  }
}
