package graft.operators

import java.awt.image.BufferedImage
import java.io.File

/** One-shot generator for the committed image-decode fixtures
  * (`fixtures/images/` + `fixtures/images_expected.csv`) behind the
  * q99 driver gate. Run manually:
  *
  *   sbt "Test/runMain graft.operators.GenImageFixtures"
  *
  * Every pixel is a pure integer formula of (x, y) — no fonts, no
  * antialiasing, no randomness — so the PNG/BMP payloads are
  * bit-reproducible. The JPEG is lossy at ENCODE time, but the
  * committed bytes decode deterministically. The expected CSV is the
  * output of [[Multimodal.imageDecodeStats]]'s own codec on this JDK:
  * the gate pins decode determinism/regression (see that Scaladoc);
  * the two solid-color 224×224 rows double as analytic checks
  * (sum = value·224²).
  */
object GenImageFixtures {

  private def img(w: Int, h: Int)(px: (Int, Int) => (Int, Int, Int)): BufferedImage = {
    val b = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, bl) = px(x, y)
        b.setRGB(x, y, (r << 16) | (g << 8) | bl)
        x += 1
      }
      y += 1
    }
    b
  }

  def main(args: Array[String]): Unit = {
    val dir = new File("fixtures/images")
    dir.mkdirs()
    val fixtures: Seq[(String, BufferedImage)] = Seq(
      // 224×224 solids: resize is identity, sums analytic (v·224²)
      "img_000.png" -> img(224, 224)((_, _) => (255, 0, 0)),
      "img_001.png" -> img(224, 224)((_, _) => (7, 130, 201)),
      // non-square → white-pad to square, then bilinear downscale
      "img_002.png" -> img(100, 60)((x, y) =>
        if (((x / 10) + (y / 10)) % 2 == 0) (0, 0, 0) else (255, 255, 255)),
      // small odd dims, per-pixel arithmetic pattern
      "img_003.png" -> img(17, 31)((x, y) =>
        ((x * 7 + y * 13) % 256, (x * 3 + y * 29) % 256, (x * 11 + y * 5) % 256)),
      // gradients, both aspect orientations
      "img_004.png" -> img(64, 128)((x, y) => (x * 4 % 256, y * 2 % 256, 64)),
      "img_005.png" -> img(300, 120)((x, y) => (x % 256, 200, y * 2 % 256)),
      // BMP and JPEG exercise the other ImageIO reader plugins
      "img_006.bmp" -> img(50, 50)((_, _) => (0, 64, 192)),
      "img_007.jpg" -> img(96, 96)((x, y) => ((x + y) % 256, 128, 30))
    )
    fixtures.foreach { case (name, image) =>
      val fmt = name.substring(name.lastIndexOf('.') + 1) match {
        case "jpg" => "jpeg"
        case other => other
      }
      require(javax.imageio.ImageIO.write(image, fmt, new File(dir, name)),
        s"no ImageIO writer for $fmt")
    }
    // a corrupt payload the decode must SKIP (PNG magic + garbage)
    val bad = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3)
    java.nio.file.Files.write(new File(dir, "img_008.png").toPath, bad)

    // expected stats from the engine codec itself (see Scaladoc)
    val spark = graft.Harness.builder(4).appName("gen-image-fixtures")
      .getOrCreate()
    try {
      val rows = Multimodal.imageDecodeStats(spark, dir.getAbsolutePath)
        .collect()
      val csv = "doc_id,orig_w,orig_h,sum_r,sum_g,sum_b\n" + rows.map { r =>
        (0 until 6).map(r.get(_).toString).mkString(",")
      }.mkString("\n") + "\n"
      java.nio.file.Files.write(
        new File("fixtures/images_expected.csv").toPath,
        csv.getBytes("UTF-8"))
      println(s"wrote ${fixtures.size} images + 1 corrupt, " +
        s"${rows.length} expected rows")
      require(rows.length == fixtures.size,
        s"expected ${fixtures.size} decoded rows (corrupt one skipped), " +
          s"got ${rows.length}")
    } finally spark.stop()
  }
}
