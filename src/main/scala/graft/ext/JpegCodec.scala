package graft.ext

import java.io.ByteArrayInputStream

import scala.util.control.NonFatal

/** JPEG pixel decode via the JVM's built-in codec (the JDK's
  * `javax.imageio` JPEG plugin — platform infrastructure, not a
  * library dependency). Web-scale corpora are predominantly JPEG, so
  * the perceptual-hash paths (e59-style features, e60 near-dup, e81)
  * must decode it; [[PngCodec]] remains the from-spec decoder for PNG
  * and both produce the same [[PngCodec.Pixels]] raster (8-bit,
  * interleaved), so every downstream feature (`lumaQ`, aHash) is
  * format-blind.
  *
  * Correctness notes:
  *  - Grayscale images are read through the RASTER
  *    (`getRaster.getSample`), never `getRGB`: `getRGB` on a
  *    `TYPE_BYTE_GRAY` image routes through a linear-gray → sRGB
  *    color conversion that gamma-warps every sample.
  *  - Malformed / truncated / unsupported payloads degrade to None
  *    (ImageIO both returns null and throws, depending on where the
  *    stream breaks — both map to None): a corrupt blob never fails a
  *    Spark partition, the same contract as [[PngCodec.decode]].
  *  - The same raster-size guard as the PNG path bounds per-task
  *    memory.
  *
  * Scale shape: blob in, pixels out, no cross-blob state — callers run
  * it inside `mapPartitions` like the PNG path.
  */
object JpegCodec {

  /** 2^26 pixels ≈ 192 MB RGB — the per-task raster ceiling, matching
    * PngCodec's guard. */
  private val MaxPixels = 1L << 26

  // ImageIO's default stream cache is a TEMP FILE PER CALL
  // (FileCacheImage{Input,Output}Stream): decoding an in-memory blob
  // paid a disk create/write/delete round-trip per frame, which at
  // ~10^5 frames per video query both dominated the cost and made it
  // erratic (filesystem contention). Each call hands ImageIO an
  // in-memory stream instead; the JVM-wide `ImageIO.setUseCache` is
  // left as the host application set it.

  def decode(jpeg: Array[Byte]): Option[PngCodec.Pixels] = {
    if (jpeg == null || jpeg.length < 4) return None
    // SOI marker FF D8, then another marker byte FF
    if ((jpeg(0) & 0xff) != 0xff || (jpeg(1) & 0xff) != 0xd8 ||
        (jpeg(2) & 0xff) != 0xff) return None
    try {
      val in = new javax.imageio.stream.MemoryCacheImageInputStream(
        new ByteArrayInputStream(jpeg))
      // read closes the stream itself unless it finds no reader
      val img = javax.imageio.ImageIO.read(in)
      if (img == null) { in.close(); return None }
      val w = img.getWidth
      val h = img.getHeight
      if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
      val gray = img.getColorModel.getNumComponents == 1
      if (gray) {
        val data = new Array[Byte](w * h)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            data(y * w + x) = raster.getSample(x, y, 0).toByte
            x += 1
          }
          y += 1
        }
        Some(PngCodec.Pixels(w, h, 1, data))
      } else {
        val data = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val o = (y * w + x) * 3
            data(o) = ((rgb >> 16) & 0xff).toByte
            data(o + 1) = ((rgb >> 8) & 0xff).toByte
            data(o + 2) = (rgb & 0xff).toByte
            x += 1
          }
          y += 1
        }
        Some(PngCodec.Pixels(w, h, 3, data))
      }
    } catch { case NonFatal(_) => None }
  }
}
