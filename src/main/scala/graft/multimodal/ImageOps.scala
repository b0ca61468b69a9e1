package graft.multimodal

import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (binary-payload) operators.
  *
  * Images are opaque `binary` columns with typed metadata (input_hint
  * schema). Decode / feature-extract run inside `mapPartitions` so the JVM
  * decoder is initialized once per partition and pixel buffers never cross
  * a shuffle — the binary column is projected ONLY into this stage; all
  * downstream dedup logic uses the extracted features. JPEG/PNG/BMP decode
  * is real (javax.imageio, in-JDK). No audio or video codec ships with
  * this build, so no audio/video operator is offered.
  */
object ImageOps {

  final case class ImageMeta(
      image_id: String,
      decoded_w: Int,
      decoded_h: Int,
      mean_luma: Double,
      ahash: Long,
      decode_ok: Boolean)

  /** Average-hash of a decoded image (8x8 grayscale mean threshold) —
    * the same public aHash family the fixture generator uses for `phash`.
    */
  def aHashOf(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val cell = new Array[Double](64)
    val cnt = new Array[Int](64)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val gray = ((rgb >> 16) & 0xff) * 0.299 + ((rgb >> 8) & 0xff) * 0.587 + (rgb & 0xff) * 0.114
        val c = (y * 8 / h) * 8 + (x * 8 / w)
        cell(c) += gray; cnt(c) += 1
        x += 1
      }
      y += 1
    }
    var mean = 0.0
    var i = 0
    while (i < 64) { cell(i) /= math.max(1, cnt(i)); mean += cell(i); i += 1 }
    mean /= 64
    var bits = 0L
    i = 0
    while (i < 64) { if (cell(i) > mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** Decode + feature-extract stage. Input needs (image_id, bytes); output
    * is small typed metadata — the binary payload dies here.
    */
  def decodeMeta(images: DataFrame): Dataset[ImageMeta] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          try {
            val img = ImageIO.read(new ByteArrayInputStream(bytes))
            if (img == null) ImageMeta(id, -1, -1, 0.0, 0L, decode_ok = false)
            else {
              var luma = 0.0
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val rgb = img.getRGB(x, y)
                  luma += ((rgb >> 16) & 0xff) * 0.299 + ((rgb >> 8) & 0xff) * 0.587 +
                    (rgb & 0xff) * 0.114
                  x += 1
                }
                y += 1
              }
              ImageMeta(id, img.getWidth, img.getHeight,
                luma / (img.getWidth * img.getHeight), aHashOf(img), decode_ok = true)
            }
          } catch {
            case _: Throwable => ImageMeta(id, -1, -1, 0.0, 0L, decode_ok = false)
          }
        }
      }
  }

  final case class ResizedImage(
      image_id: String, bytes: Array[Byte], w: Int, h: Int, fmt: String, ok: Boolean)

  /** REAL resize (in-JDK Graphics2D bilinear), preserving aspect ratio to
    * fit within `maxSide` — the standard thumbnail/normalize step before
    * batch feature extraction. Runs in mapPartitions; input and output are
    * binary columns, so the stage composes with [[decodeMeta]] and any
    * downstream embedding UDF. Rows that fail to decode pass through with
    * `ok = false` (same non-fatal contract as decode).
    */
  def resize(images: DataFrame, maxSide: Int): Dataset[ResizedImage] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          try {
            val img = ImageIO.read(new ByteArrayInputStream(bytes))
            if (img == null) ResizedImage(id, Array.empty, -1, -1, "png", ok = false)
            else {
              val scale = math.min(1.0, maxSide.toDouble / math.max(img.getWidth, img.getHeight))
              val (nw, nh) = (math.max(1, (img.getWidth * scale).round.toInt),
                math.max(1, (img.getHeight * scale).round.toInt))
              val out = new java.awt.image.BufferedImage(nw, nh,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = out.createGraphics()
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, nw, nh, null)
              g.dispose()
              val bos = new java.io.ByteArrayOutputStream()
              ImageIO.write(out, "png", bos)
              ResizedImage(id, bos.toByteArray, nw, nh, "png", ok = true)
            }
          } catch {
            case _: Throwable => ResizedImage(id, Array.empty, -1, -1, "png", ok = false)
          }
        }
      }
  }
}
