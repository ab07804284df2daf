package graft

import java.awt.image.BufferedImage

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{JpegCodec, Multimodal, PngCodec}

/** [[graft.ext.JpegCodec]]: pixel equality against imageio's own
  * read-back (the e59-style contract), the exactly-lossless
  * closed-form fixture ([[Multimodal.syntheticJpeg]] — constant 8×8
  * blocks at quality 1.0 make the lossy codec lossless, so features
  * stay analytically predictable), gray-raster fidelity (no sRGB
  * gamma warp), and malformed-input degradation. Pure JVM, no Spark
  * session. */
class JpegCodecSpec extends AnyFunSuite {

  private def encodeJpeg(img: BufferedImage, quality: Float): Array[Byte] = {
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  test("syntheticJpeg round-trips EXACTLY to the closed-form block law") {
    for (docId <- Seq(0L, 1L, 7L, 123L, 4095L)) {
      val p = JpegCodec.decode(Multimodal.syntheticJpeg(docId))
        .getOrElse(fail(s"decode failed for doc $docId"))
      assert(p.width == 16 && p.height == 16 && p.channels == 1)
      for (y <- 0 until 16; x <- 0 until 16) {
        val want = ((docId * 3 + (x / 8) * 7 + (y / 8) * 11) % 256).toInt
        assert(p.sample(x, y, 0) == want, s"doc $docId ($x,$y)")
        assert(p.lumaQ(x, y) == 1000L * want)
      }
    }
  }

  test("decode equals imageio's own pixels for RGB and gray JPEGs (seeded)") {
    val rnd = new Random(0xcafe)
    for (trial <- 1 to 8) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val gray = trial % 2 == 0
      val img =
        if (gray) {
          val i = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
          for (y <- 0 until h; x <- 0 until w)
            i.getRaster.setSample(x, y, 0, rnd.nextInt(256))
          i
        } else {
          val i = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until h; x <- 0 until w)
            i.setRGB(x, y, rnd.nextInt() & 0xffffff)
          i
        }
      val bytes = encodeJpeg(img, 0.85f)
      val p = JpegCodec.decode(bytes).getOrElse(fail(s"decode failed $w x $h"))
      assert(p.width == w && p.height == h)
      assert(p.channels == (if (gray) 1 else 3))
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      for (y <- 0 until h; x <- 0 until w) {
        if (gray)
          // RAW raster sample — getRGB would gamma-warp gray values
          assert(p.sample(x, y, 0) == ref.getRaster.getSample(x, y, 0),
            s"gray ($x,$y)")
        else {
          val want = ref.getRGB(x, y)
          assert(p.sample(x, y, 0) == ((want >> 16) & 0xff), s"R ($x,$y)")
          assert(p.sample(x, y, 1) == ((want >> 8) & 0xff), s"G ($x,$y)")
          assert(p.sample(x, y, 2) == (want & 0xff), s"B ($x,$y)")
        }
      }
    }
  }

  test("malformed input degrades to None, never an exception") {
    val rnd = new Random(0xdead)
    for (_ <- 1 to 200) {
      val b = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(b)
      JpegCodec.decode(b) // must not throw
    }
    // SOI-prefixed garbage walks into the real parser
    for (_ <- 1 to 100) {
      val body = new Array[Byte](rnd.nextInt(300))
      rnd.nextBytes(body)
      val soi = Array(0xff.toByte, 0xd8.toByte, 0xff.toByte)
      assert(JpegCodec.decode(soi ++ body).isEmpty)
    }
    // a TRUNCATED valid jpeg
    val whole = Multimodal.syntheticJpeg(42L)
    for (cut <- Seq(4, whole.length / 4, whole.length / 2))
      JpegCodec.decode(whole.take(cut)) // must not throw
    assert(JpegCodec.decode(Array.emptyByteArray).isEmpty)
    assert(JpegCodec.decode(null).isEmpty)
  }

  test("decodeImage dispatches by container; unknown containers are None") {
    val png = Multimodal.syntheticPng(5L)
    val jpg = Multimodal.syntheticJpeg(5L)
    assert(Multimodal.decodeImage(png).exists(_.channels == 3))
    assert(Multimodal.decodeImage(jpg).exists(_.channels == 1))
    assert(Multimodal.decodeImage("GIF89a-not-really".getBytes).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
    // PNG decoded through the dispatch equals PngCodec directly
    val a = Multimodal.decodeImage(png).get
    val b = PngCodec.decode(png).get
    assert(java.util.Arrays.equals(a.data, b.data))
  }

  test("decode and encode leave ImageIO's JVM-wide cache setting alone") {
    // the JVM default; graft hands ImageIO memory-cached streams per call
    assert(javax.imageio.ImageIO.getUseCache)
    assert(JpegCodec.decode(Multimodal.syntheticJpeg(7L)).isDefined)
    assert(Multimodal.syntheticPng(7L).nonEmpty)
    assert(javax.imageio.ImageIO.getUseCache)
  }
}
