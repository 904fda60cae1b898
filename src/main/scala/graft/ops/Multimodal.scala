package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, processed partition-wise in batches (the Scala analogue
  * of a Pandas-UDF/mapInPandas stage: one JVM decode context per
  * partition, rows handled in bounded chunks).
  *
  * The image path is REAL: payloads are genuine PNG files (encoded with
  * `javax.imageio` from a deterministic per-asset pixel formula) and the
  * decode/resize ops run `ImageIO.read` over the binary column — a real
  * codec round-trip, not a stub. PNG is lossless, so the decoded pixels
  * equal the generation formula exactly and DuckDB can oracle-check the
  * channel statistics without ever touching a PNG byte.
  */
object Multimodal {

  /** One media asset: opaque payload + typed metadata. */
  case class Asset(
      asset_id: Long,
      kind: String,
      payload: Array[Byte],
      width: Int,
      height: Int)

  /** A real image asset: the payload is a PNG file. */
  case class ImageAsset(asset_id: Long, png: Array[Byte])

  case class ImageStats(
      asset_id: Long,
      width: Int,
      height: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long)

  /** Synthesize an assets table from `documents` (deterministic: payload =
    * UTF-8 of the text, dimensions derived from doc fields). Stands in for
    * `spark.read.format("binaryFile")` at 100 TB.
    */
  def assets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    T.t(spark, dir, "documents")
      .select(
        col("doc_id").as("asset_id"),
        expr("CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END").as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        expr("CAST(32 + n_chars % 97 AS INT)").as("width"),
        expr("CAST(32 + n_chars % 71 AS INT)").as("height"))
      .as[Asset]
  }

  /** The deterministic pixel formula: channel value at (x, y) of asset
    * `id`. Shared by the PNG generator and (textually) the DuckDB
    * oracle — the codec round-trip is checked against this ground
    * truth.
    */
  @inline private def chan(id: Long, x: Int, y: Int, a: Long, b: Long, c: Long): Int =
    ((id * a + x * b + y * c) % 256L).toInt

  /** A real PNG per document: `8 + id % 9` x `8 + id % 7` RGB pixels from
    * the deterministic formula, encoded with `javax.imageio`. One encoder
    * context per partition (`ImageIO.setUseCache(false)` keeps executors
    * off local scratch disk); at 100 TB this is the
    * `spark.read.format("binaryFile")` scan these bytes stand in for.
    */
  def imageAssets(spark: SparkSession, dir: String): Dataset[ImageAsset] = {
    import spark.implicits._
    T.t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val w = (8 + id % 9).toInt
          val h = (8 + id % 7).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y,
                (chan(id, x, y, 31, 7, 13) << 16) |
                  (chan(id, x, y, 17, 11, 3) << 8) |
                  chan(id, x, y, 29, 5, 19))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          ImageAsset(id, bos.toByteArray)
        }
      }
  }

  /** REAL image decode over the binary column: `ImageIO.read` per asset,
    * partition-wise with one decoder context per partition, extracting
    * dimensions + per-channel pixel sums. Decoded values — not the
    * payload bytes — are what downstream sees, exactly like a production
    * feature-extraction stage.
    */
  def decodeImages(in: Dataset[ImageAsset]): Dataset[ImageStats] = {
    import in.sparkSession.implicits._
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { a =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(a.png))
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xff
            sg += (rgb >> 8) & 0xff
            sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        ImageStats(a.asset_id, img.getWidth, img.getHeight, sr, sg, sb)
      }
    }
  }

  /** REAL nearest-neighbour resize to `side` x `side` over the decoded
    * image (source pixel (x*w/side, y*h/side)), returning the resized
    * per-channel sums. The codec decode + resample both run here; only
    * the deterministic statistics leave the stage, so the oracle can
    * replay them from the generation formula.
    */
  def resizeImages(in: Dataset[ImageAsset], side: Int): Dataset[ImageStats] = {
    import in.sparkSession.implicits._
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { a =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(a.png))
        val (w, h) = (img.getWidth, img.getHeight)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < side) {
          var x = 0
          while (x < side) {
            val rgb = img.getRGB(x * w / side, y * h / side)
            sr += (rgb >> 16) & 0xff
            sg += (rgb >> 8) & 0xff
            sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        ImageStats(a.asset_id, side, side, sr, sg, sb)
      }
    }
  }

  /** DuckDB replay of the pixel formula over an (asset, x, y) grid CTE:
    * terminal CTE is `g(doc_id, w, h, x, y, r, g, b)`.
    */
  private def oPixels(xExpr: String, yExpr: String, grid: String): String =
    "WITH px AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents), " +
      s"$grid, " +
      s"g AS (SELECT doc_id, w, h, x, y, " +
      s"(doc_id * 31 + ($xExpr) * 7 + ($yExpr) * 13) % 256 AS r, " +
      s"(doc_id * 17 + ($xExpr) * 11 + ($yExpr) * 3) % 256 AS g, " +
      s"(doc_id * 29 + ($xExpr) * 5 + ($yExpr) * 19) % 256 AS b FROM grid)"

  val ops: Seq[Op] = Seq(
    // REAL codec round-trip: generate PNGs (javax.imageio encode), decode
    // them back (ImageIO.read) and report dimensions + channel sums. The
    // oracle never sees a PNG byte — PNG is lossless, so the decoded
    // pixels must equal the deterministic generation formula, which
    // DuckDB replays over an unnested (x, y) grid. Any codec, color-space
    // or byte-order slip in the Spark path breaks the hash compare.
    Op("llm_multimodal_decode",
      (s, d) => decodeImages(imageAssets(s, d)).toDF()
        .select(col("asset_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("asset_id"),
      Some(oPixels("x", "y",
        "xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM px), " +
          "grid AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs)") +
        " SELECT doc_id AS asset_id, CAST(w AS INTEGER) AS width, " +
        "CAST(h AS INTEGER) AS height, " +
        "CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g, " +
        "CAST(sum(b) AS BIGINT) AS sum_b " +
        "FROM g GROUP BY 1, 2, 3 ORDER BY asset_id")),

    // binary-payload metadata extraction — the oracle-checkable half of
    // the multimodal path: Spark works on a real BinaryType column
    // (octet_length / md5 / first byte of the payload); DuckDB computes
    // the same values from the source text, whose UTF-8 bytes ARE the
    // payload. Pure per-row map stage over the binary column.
    Op("llm_binary_stats",
      (s, d) => assets(s, d).toDF()
        .select(col("asset_id"), col("kind"),
          expr("octet_length(payload)").cast("long").as("n_bytes"),
          md5(col("payload")).as("digest"),
          expr("ascii(decode(substring(payload, 1, 1), 'UTF-8'))").as("first_byte"))
        .orderBy("asset_id"),
      Some("SELECT doc_id AS asset_id, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS digest, " +
        "ascii(text) AS first_byte " +
        "FROM documents ORDER BY asset_id")),

    // REAL image resize: decode the PNG, nearest-neighbour resample to
    // 4x4 (source pixel (x*w/4, y*h/4)), report resized channel sums.
    // The oracle replays the formula at exactly the sampled positions.
    Op("llm_multimodal_resize",
      (s, d) => resizeImages(imageAssets(s, d), 4).toDF()
        .select(col("asset_id"),
          col("sum_r").as("rs_r"), col("sum_g").as("rs_g"),
          col("sum_b").as("rs_b"))
        .orderBy("asset_id"),
      Some(oPixels("(x * w) // 4", "(y * h) // 4",
        "xs AS (SELECT doc_id, w, h, unnest(range(0, 4)) AS x FROM px), " +
          "grid AS (SELECT doc_id, w, h, x, unnest(range(0, 4)) AS y FROM xs)") +
        " SELECT doc_id AS asset_id, " +
        "CAST(sum(r) AS BIGINT) AS rs_r, CAST(sum(g) AS BIGINT) AS rs_g, " +
        "CAST(sum(b) AS BIGINT) AS rs_b " +
        "FROM g GROUP BY 1 ORDER BY asset_id")),

    // frame sampling over the binary payload: every 4th 64-byte frame
    // (byte offsets 0, 256, 512, …) with a per-frame digest — the video
    // frame-extraction access pattern as pure Spark plumbing
    // (sequence + explode + binary substring stays in codegen; a real
    // codec replaces the digest step). Oracle-checkable because the
    // payload IS the doc text's UTF-8 bytes and the corpus is pure ASCII
    // (strlen == length for every row), so DuckDB's char slices equal
    // the byte slices.
    Op("llm_frame_sample",
      (s, d) => assets(s, d).toDF()
        .select(col("asset_id"),
          col("payload"),
          explode(expr("sequence(0, octet_length(payload) - 1, 256)")).as("off"))
        .select(col("asset_id"),
          expr("CAST(off div 64 AS INT)").as("frame_idx"),
          expr("octet_length(substring(payload, off + 1, 64))").cast("int").as("n_bytes"),
          md5(expr("substring(payload, off + 1, 64)")).as("digest"))
        .orderBy("asset_id", "frame_idx"),
      Some("SELECT doc_id AS asset_id, CAST(off // 64 AS INTEGER) AS frame_idx, " +
        "CAST(strlen(substr(text, off + 1, 64)) AS INTEGER) AS n_bytes, " +
        "md5(substr(text, off + 1, 64)) AS digest " +
        "FROM (SELECT doc_id, text, unnest(range(0, strlen(text), 256)) AS off FROM documents) " +
        "ORDER BY asset_id, frame_idx")),

    // typed multimodal bundle: text + metadata + embedding in one struct
    // column, flattened for the oracle compare.
    Op("llm_multimodal_schema",
      (s, d) => T.t(s, d, "documents")
        .join(T.t(s, d, "embeddings"), col("doc_id") === col("vec_id"))
        .withColumn("bundle", expr("struct(text, lang, embedding)"))
        .select(
          col("doc_id"), col("lang"), col("n_chars"), col("label"),
          expr("size(bundle.embedding)").as("dim"),
          expr("CAST(element_at(bundle.embedding, 1) AS DOUBLE)").as("emb_first"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, lang, n_chars, label, CAST(len(embedding) AS INTEGER) AS dim, " +
        "CAST(embedding[1] AS DOUBLE) AS emb_first " +
        "FROM documents JOIN embeddings ON doc_id = vec_id ORDER BY doc_id"))
  )
}
