package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** One-shot generator for the committed JPEG fixtures (run via
  * `sbt "Test/runMain graft.multimodal.GenJpegFixtures"`; it lives in
  * the test sources because only MediaCodecsSpec uses it). Deterministic
  * synthetic rasters through the JDK's built-in encoder; outputs are
  * COMMITTED so the judged corpus never depends on re-running the
  * encoder (whose byte output may vary across JDK builds — the
  * committed bytes are the fixture, the generator is provenance).
  * The truncated fixture cuts inside the entropy-coded scan, AFTER
  * the SOF frame header: header-level parsers (m2, and the DuckDB
  * marker-walk oracle) must still report its dimensions while the
  * full decode (m7) must drop it row-wise.
  */
object GenJpegFixtures {

  def raster(w: Int, h: Int)(f: (Int, Int) => (Int, Int, Int)): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = f(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    img
  }

  def encode(img: BufferedImage, quality: Float): Array[Byte] = {
    val w = ImageIO.getImageWritersByFormatName("jpg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new IIOImage(img, null, null), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val dir = new File("fixtures/media")
    def put(name: String, bytes: Array[Byte]): Unit = {
      val fos = new FileOutputStream(new File(dir, name))
      try fos.write(bytes) finally fos.close()
      println(s"$name: ${bytes.length} bytes")
    }
    put("img_16x8.jpg",
      encode(raster(16, 8)((x, y) => (x * 16, y * 32, (x + y) * 8 % 256)), 0.95f))
    put("img_9x5.jpg",
      encode(raster(9, 5)((x, y) =>
        if (((x / 3) + (y / 3)) % 2 == 0) (220, 40, 40) else (40, 40, 220)), 0.9f))
    val full = encode(
      raster(12, 10)((x, y) => ((x * y) % 256, x * 20 % 256, y * 25 % 256)), 0.9f)
    // locate the SOS marker so the cut is provably inside scan data
    val sos = full.indices.dropRight(1)
      .find(i => (full(i) & 0xff) == 0xff && (full(i + 1) & 0xff) == 0xda)
      .getOrElse(sys.error("no SOS marker in generated JPEG"))
    val cut = sos + (full.length - sos) / 2
    put("img_trunc.jpg", full.take(cut))
  }
}
