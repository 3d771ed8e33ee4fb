package graft.ops

import graft.Tables
import graft.functions.Determinism
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pinned.PinnedOps

/** Multimodal column plumbing: image/audio/video as opaque `BinaryType`
  * payloads plus a typed metadata struct, with decode / feature-extraction
  * implemented as partition-local batch transforms.
  *
  * The real decode libraries (image/audio codecs) are not in this container,
  * so `decodePartition` is a clearly-marked DETERMINISTIC STUB — but the
  * Spark-side plumbing (schema, binary handling, mapPartitions batch shape,
  * partition sizing) is real and oracle-tested. Swapping the stub body for
  * JNI/FFI codec calls changes nothing structurally.
  *
  * Scale notes: payloads never enter a shuffle key; feature extraction is
  * mapPartitions (amortizes per-batch codec init, the reason pipelines use
  * partition-level UDFs); `spark.sql.files.maxPartitionBytes` bounds memory
  * per task when payloads are large.
  */
object Multimodal {

  /** ImageIO's stream cache defaults to DISK-backed (a temp file created and
    * deleted per encode/decode). Our payloads are in-memory byte arrays, so
    * the file cache is pure overhead — and under task parallelism it
    * serializes the whole codec pass on the tmp-directory inode (32
    * concurrent create/delete in one dir; thread dumps showed the workers
    * pinned in UnixFileSystem.delete0/open0, r17). Memory-backed streams
    * remove the filesystem from the loop entirely. Static, JVM-wide,
    * executor-side: the object initializer runs on first use in each task
    * JVM.
    */
  javax.imageio.ImageIO.setUseCache(false)

  /** Simulated media table: the document text bytes act as the opaque binary
    * payload (in production: the image/audio blob), with typed metadata.
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("text/plain").as("mime"),
        col("source").as("origin"),
        length(col("text")).cast("long").as("declared_len")).as("meta"))

  /** Pure-expression feature pass — byte length, chunking, digest, head bytes.
    * Codegen'd, map-only.
    */
  def features(docs: DataFrame): DataFrame =
    mediaTable(docs).select(
      col("doc_id"),
      col("meta.mime").as("mime"),
      octet_length(col("payload")).cast("long").as("byte_len"),
      ceil(octet_length(col("payload")) / lit(4096.0)).cast("long").as("n_chunks"),
      md5(col("payload")).as("content_md5"),
      hex(substring(col("payload"), 1, 16)).as("head16"))

  /** Typed input to the decode pass: one opaque payload per row. */
  case class MediaPayload(doc_id: Long, payload: Array[Byte])

  /** Typed output of the decode pass. */
  case class Decoded(doc_id: Long, kind: String, width: Long, height: Long,
      n_frames: Long)

  /** Partition-local "decode": iterates rows in batches the way a codec
    * binding would. STUB — derives fake dimensions deterministically from the
    * payload length (`???`-equivalent for the codec call, kept runnable); the
    * iterator shape, schema contract, and laziness are the real thing.
    */
  def decodePartition(rows: Iterator[MediaPayload]): Iterator[Decoded] =
    rows.map { m =>
      if (m.payload == null)
        // a null blob is an unreadable asset: emit a visible failed-decode
        // row rather than NPE-ing the task or silently dropping the id
        // (found by RobustnessSpec's dirty-corpus sweep)
        Decoded(m.doc_id, "fake/unreadable", 0L, 0L, 0L)
      else {
        // --- codec call would go here; deterministic stand-in: ---
        val len = m.payload.length.toLong
        Decoded(m.doc_id, "fake/decoded", len % 640L, len % 480L, len / 64L + 1L)
      }
    }

  /** Typed `Dataset.mapPartitions` keeps the decode inside the Catalyst plan
    * (DeserializeToObject → MapPartitions → SerializeFromObject): column
    * pruning still reaches the scan and no `ExistingRDD` re-scan is created,
    * unlike the `df.rdd.mapPartitions` + `createDataFrame` idiom.
    */
  def decoded(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    mediaTable(docs)
      .select(col("doc_id"), col("payload")).as[MediaPayload]
      .mapPartitions(decodePartition)
      .toDF()
  }

  // --- real image decode (round-10: the codec is no longer a stub) ---------

  /** Deterministic channel value at (x, y) of doc `docId`'s synthetic image —
    * shared contract between the synthesizer, the decoder spec, and the
    * DuckDB oracle (which PREDICTS the decode analytically: it cannot read
    * PNG bytes, so Spark's decode is checked against arithmetic, meaning a
    * wrong decode cannot hash-match).
    */
  def pixelChannel(docId: Long, x: Int, y: Int, off: Int): Int =
    ((docId * 31 + x * 7 + y * 13 + off) % 256).toInt

  def synthWidth(docId: Long): Int = 1 + (docId % 7).toInt
  def synthHeight(docId: Long): Int = 1 + (docId % 5).toInt

  /** A genuine tiny PNG (even ids) / BMP (odd ids) with `pixelChannel`
    * pixels, encoded by `javax.imageio` — real compressed image bytes, not a
    * marker. Both codecs ship in the JDK and are lossless for 24-bit RGB.
    */
  def synthImageBytes(docId: Long): Array[Byte] = {
    val (w, h) = (synthWidth(docId), synthHeight(docId))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (pixelChannel(docId, x, y, 0) << 16) |
            (pixelChannel(docId, x, y, 97) << 8) |
            pixelChannel(docId, x, y, 193))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, if (docId % 2 == 0) "png" else "bmp", bos)
    bos.toByteArray
  }

  /** Simulated IMAGE corpus over the shared testdata ids: real PNG/BMP bytes
    * per doc, except every 10th doc keeps its text bytes — a non-image
    * payload that must route through the unknown-codec fallback in the same
    * scan (production corpora are never all-decodable). Typed mapPartitions,
    * so the synth (in production: the blob fetch) stays in the Catalyst plan.
    */
  def imageTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        // per-task re-assert (see decodeImagePartition): the synth ENCODES
        // through ImageIO too
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, text) =>
          if (id % 10 == 9)
            MediaPayload(id, if (text == null) null else text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          else MediaPayload(id, synthImageBytes(id))
        }
      }
      .toDF()
  }

  /** Decode result: real dimensions + per-channel pixel sums (exact integer
    * stats, so the analytic oracle can hash-match them). Fallback rows carry
    * the length-derived stub dims and -1 sums.
    */
  case class ImgDecoded(doc_id: Long, kind: String, width: Long, height: Long,
      r_sum: Long, g_sum: Long, b_sum: Long)

  /** REAL partition-local decode: sniff the codec from the bytes
    * (`ImageIO.getImageReaders` — never trust declared metadata), decode,
    * and reduce to integer channel stats. Unknown codec → the documented
    * deterministic fallback (the former stub, now demoted to the error
    * path); null blob → a visible unreadable row.
    */
  def decodeImagePartition(rows: Iterator[MediaPayload]): Iterator[ImgDecoded] = {
    // Re-asserted per task (not only in the object initializer): the
    // initializer runs when THIS class loads in an executor JVM, which is
    // guaranteed for these call sites but brittle against refactors that
    // move the closure; one boolean set per partition is free. JVM-WIDE
    // side effect, deliberately: every ImageIO user in this JVM gets
    // memory-backed streams (see the object-level note).
    javax.imageio.ImageIO.setUseCache(false)
    rows.map { m =>
      if (m.payload == null) ImgDecoded(m.doc_id, "fake/unreadable", 0L, 0L, -1L, -1L, -1L)
      else {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(m.payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (readers.hasNext) {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val img = reader.read(0)
              var (rs, gs, bs) = (0L, 0L, 0L)
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val p = img.getRGB(x, y)
                  rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
                  x += 1
                }
                y += 1
              }
              ImgDecoded(m.doc_id, "image/" + reader.getFormatName.toLowerCase,
                img.getWidth.toLong, img.getHeight.toLong, rs, gs, bs)
            } finally reader.dispose()
          } else {
            // unknown codec: deterministic length-derived stand-in, flagged
            val len = m.payload.length.toLong
            ImgDecoded(m.doc_id, "fake/decoded", len % 640L, len % 480L, -1L, -1L, -1L)
          }
        } finally if (iis != null) iis.close()
      }
    }
  }

  /** The real decode as a plan-native operator (same typed-mapPartitions
    * shape as `decoded`).
    */
  def decodedReal(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    imageTable(docs)
      .select(col("doc_id"), col("payload")).as[MediaPayload]
      .mapPartitions(decodeImagePartition)
      .toDF()
  }

  /** Per-image perceptual hash row (bits as a 64-char '0'/'1' string — the
    * cross-engine-trivial form; production packs it into an int64).
    */
  case class PHashed(doc_id: Long, phash: String)

  /** Partition-local dHash (difference hash — the standard cheap perceptual
    * image fingerprint): REAL codec round-trip, then an 9×8 sample grid
    * reduced to 64 horizontal-gradient bits. Sampling is nearest-neighbor
    * with exact integer index math (x_i = i·W div 9, y_j = j·H div 8) and
    * grayscale is the integer (r+g+b) div 3 — deliberately NOT a codec
    * resize, whose interpolation no oracle could replay. Non-image payloads
    * are skipped (perceptual dedup is defined on decodable images only).
    */
  def phashImagePartition(rows: Iterator[MediaPayload]): Iterator[PHashed] =
    rows.flatMap { m =>
      if (m.payload == null) None
      else {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(m.payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val img = reader.read(0)
              val (w, h) = (img.getWidth, img.getHeight)
              def gray(x: Int, y: Int): Int = {
                val p = img.getRGB(x, y)
                (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
              }
              val sb = new java.lang.StringBuilder(64)
              var j = 0
              while (j < 8) {
                val y = j * h / 8
                var i = 0
                while (i < 8) {
                  sb.append(if (gray((i + 1) * w / 9, y) > gray(i * w / 9, y)) '1' else '0')
                  i += 1
                }
                j += 1
              }
              Some(PHashed(m.doc_id, sb.toString))
            } finally reader.dispose()
          }
        } finally if (iis != null) iis.close()
      }
    }

  /** Perceptual dedup groups over the image corpus: dHash each decodable
    * image (map-only; payloads never shuffle — only the 64-bit fingerprint
    * and the id move), then the `Dedup.exact` grouping contract (n_copies,
    * min-id representative). Visually-identical-structure images collapse
    * regardless of codec (the PNG and BMP encodings of the same pixels hash
    * identically — spec'd). The oracle PREDICTS every hash analytically
    * from the shared pixel formula, so a decode or sampling bug on the
    * engine side cannot hash-match arithmetic.
    */
  def phashGroups(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    imageTable(docs)
      .select(col("doc_id"), col("payload")).as[MediaPayload]
      .mapPartitions(phashImagePartition)
      .toDF()
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
  }

  val EmbedDims = 16
  val EmbedCells = 8

  /** The media → vector path: per-payload embedding + coarse-cell index
    * assignment, the composition a multimodal corpus runs between decode
    * and similarity search. The EMBEDDING MODEL is the deterministic stub
    * here (components derived from md5 of the content digest — in
    * production this is the encoder forward pass, exactly like the codec
    * in `decodePartition`); everything around it is the real shape:
    * map-only embed over the binary column, unit-normalization, broadcast
    * argmax-cosine assignment against a centroid set (`Similarity.
    * ivfAssign`'s flow, self-contained on the first `EmbedCells` media
    * vectors), ready for `ivfTopKFromIndex`-style probing. Deterministic
    * end-to-end, so unlike a real encoder it is hash-checkable cross-engine.
    */
  def embedAssign(docs: DataFrame): DataFrame = {
    // encoder input = the REAL decode's stats (round 10): the stub forward
    // pass now runs over genuinely-decoded content, and stays analytically
    // predictable for the cross-engine oracle
    val m = decodedReal(docs).select(col("doc_id"),
      md5(concat_ws(":", col("kind"), col("width").cast("string"),
        col("height").cast("string"), col("r_sum").cast("string"),
        col("g_sum").cast("string"), col("b_sum").cast("string"))).as("cmd5"))
      .withColumn("v", expr(
        s"transform(sequence(0, ${EmbedDims - 1}), " +
          s"j -> cast(${Determinism.md5LongSql("concat('emb:', cmd5, ':', j)")} % 1000 as double) / 1000.0)"))
      .withColumn("nrm", expr(
        // a real encoder can emit an all-zero vector; the epsilon floor keeps
        // the normalize NaN-free (stub values are unchanged: nrm >> 1e-12)
        "greatest(sqrt(aggregate(v, cast(0.0 as double), (acc, x) -> acc + x * x)), 1.0e-12)"))
      .select(col("doc_id"), expr("transform(v, x -> x / nrm)").as("nv"))
      .pinned(false)
    val cents = m.filter(col("doc_id") < EmbedCells)
      .select(col("doc_id").as("cell"), col("nv").as("cv"))
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("ccos").desc, col("cell"))
    m.join(broadcast(cents), lit(true))
      .select(col("doc_id"), col("cell"),
        round(graft.functions.GraftFunctions.dot(col("nv"), col("cv")), 6).as("ccos"))
      .withColumn("crk", row_number().over(wAssign))
      .filter(col("crk") === 1)
      .select(col("doc_id"), col("cell"), col("ccos"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_media_features" -> ((s, d) => features(Tables.documents(s, d))),
    "q_media_decode" -> ((s, d) => decodedReal(Tables.documents(s, d))),
    "q_media_phash" -> ((s, d) => phashGroups(Tables.documents(s, d))),
    "q_media_embed" -> ((s, d) => embedAssign(Tables.documents(s, d))))

  /** Analytic replay of `decodeImagePartition` over `imageTable`'s
    * deterministic corpus: dims from the synth formulas, channel sums from
    * `pixelChannel` summed per pixel; every-10th docs take the fallback
    * branch with length-derived dims and -1 sums.
    */
  private val decodeCte: String = {
    def chanSum(off: Int) =
      s"""CAST(list_sum(flatten(list_transform(range(0, 1 + doc_id % 5),
         |      y -> list_transform(range(0, 1 + doc_id % 7),
         |             x -> (doc_id * 31 + x * 7 + y * 13 + $off) % 256)))) AS BIGINT)""".stripMargin
    s"""dec AS (SELECT doc_id,
       |  CASE WHEN doc_id % 10 = 9 THEN 'fake/decoded'
       |       WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/bmp' END AS kind,
       |  CASE WHEN doc_id % 10 = 9 THEN CAST(octet_length(encode(text)) % 640 AS BIGINT)
       |       ELSE 1 + doc_id % 7 END AS width,
       |  CASE WHEN doc_id % 10 = 9 THEN CAST(octet_length(encode(text)) % 480 AS BIGINT)
       |       ELSE 1 + doc_id % 5 END AS height,
       |  CASE WHEN doc_id % 10 = 9 THEN CAST(-1 AS BIGINT) ELSE ${chanSum(0)} END AS r_sum,
       |  CASE WHEN doc_id % 10 = 9 THEN CAST(-1 AS BIGINT) ELSE ${chanSum(97)} END AS g_sum,
       |  CASE WHEN doc_id % 10 = 9 THEN CAST(-1 AS BIGINT) ELSE ${chanSum(193)} END AS b_sum
       |FROM documents)""".stripMargin
  }

  // Oracle: document text is pure ASCII [a-z ] (verified against the data),
  // so octet_length(payload) == length(text) and md5(payload) == md5(text).
  val oracleSql: Map[String, String] = Map(
    "q_media_features" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(ceil(octet_length(encode(text)) / 4096.0) AS BIGINT) AS n_chunks,
        |  md5(text) AS content_md5,
        |  hex(encode(substr(text, 1, 16))) AS head16
        |FROM documents""".stripMargin,

    // The oracle PREDICTS the decode analytically from the shared pixel
    // formula (it cannot parse PNG/BMP bytes): a decode bug on the Spark
    // side cannot hash-match arithmetic.
    "q_media_decode" -> (s"WITH $decodeCte\nSELECT * FROM dec"),

    // analytic dHash replay: same sample grid, same integer grayscale, over
    // the pixel FORMULA instead of decoded bytes
    "q_media_phash" -> {
      def g(ix: String, j: String) = {
        val x = s"(($ix) * (1 + doc_id % 7)) // 9"
        val y = s"(($j) * (1 + doc_id % 5)) // 8"
        s"(((doc_id * 31 + ($x) * 7 + ($y) * 13) % 256)" +
          s" + ((doc_id * 31 + ($x) * 7 + ($y) * 13 + 97) % 256)" +
          s" + ((doc_id * 31 + ($x) * 7 + ($y) * 13 + 193) % 256)) // 3"
      }
      s"""WITH ph AS (SELECT doc_id,
         |  array_to_string(flatten(list_transform(range(0, 8),
         |    j -> list_transform(range(0, 8),
         |      i -> CASE WHEN ${g("i + 1", "j")} > ${g("i", "j")}
         |           THEN '1' ELSE '0' END))), '') AS phash
         |FROM documents WHERE doc_id % 10 <> 9)
         |SELECT phash, count(*) AS n_copies, min(doc_id) AS keep_id
         |FROM ph GROUP BY 1""".stripMargin
    },

    "q_media_embed" ->
      s"""WITH $decodeCte,
         |m AS (SELECT doc_id,
         |        md5(concat_ws(':', kind, width, height, r_sum, g_sum, b_sum)) AS cmd5
         |      FROM dec),
         |e AS (SELECT doc_id,
         |        [CAST(('0x' || substr(md5('emb:' || cmd5 || ':' || j), 1, 15))::BIGINT % 1000
         |              AS DOUBLE) / 1000.0 for j in range(0, $EmbedDims)] AS v
         |      FROM m),
         |n AS (SELECT doc_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
         |nv AS (SELECT doc_id, [x / nrm for x in v] AS nv FROM n),
         |cents AS (SELECT doc_id AS cell, nv AS cv FROM nv WHERE doc_id < $EmbedCells),
         |a AS (SELECT d.doc_id, c.cell,
         |        round(list_sum([d.nv[i] * c.cv[i] for i in range(1, ${EmbedDims + 1})]), 6) AS ccos
         |      FROM nv d, cents c),
         |r AS (SELECT doc_id, cell, ccos,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY ccos DESC, cell) AS crk
         |      FROM a)
         |SELECT doc_id, cell, ccos FROM r WHERE crk = 1""".stripMargin)
}
