package graft.tools

import java.awt.image.BufferedImage
import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import javax.imageio.ImageIO
import graft.GraftSession

/** One-off generator for the REAL image fixtures behind
  * `multimodal_real`: deterministic PNG/JPEG/GIF files written with the
  * JDK's own encoders (javax.imageio — no external library), plus a
  * ground-truth manifest parquet recorded AT WRITE TIME (file name,
  * byte length, md5, format, width, height). The query must recover
  * format and dimensions from the committed bytes alone
  * ([[graft.functions.ImageMeta]]); the manifest is what the DuckDB
  * oracle replays — generator-known truth, independent of the parser
  * under test.
  *
  * Run once, outputs committed: `sbt "runMain graft.tools.GenImageFixtures"`.
  */
object GenImageFixtures {
  /** Deterministic RGB: a phase-shifted gradient unique per (seed,x,y). */
  private def pixel(seed: Int, x: Int, y: Int): Int = {
    val r = (x * 7 + seed * 13) % 256
    val g = (y * 11 + seed * 29) % 256
    val b = (x * 3 + y * 5 + seed * 41) % 256
    (r << 16) | (g << 8) | b
  }

  private def image(seed: Int, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, pixel(seed, x, y))
    img
  }

  private def md5hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  case class Entry(file: String, length: Long, content_md5: String,
    format: String, width: Int, height: Int)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("fixtures/images")
    new File(outDir).mkdirs()
    val entries = scala.collection.mutable.ArrayBuffer[Entry]()

    def write(name: String, fmt: String, tag: String, seed: Int, w: Int, h: Int): Unit = {
      val f = new File(outDir, name)
      ImageIO.write(image(seed, w, h), fmt, f)
      val bytes = Files.readAllBytes(f.toPath)
      entries += Entry(name, bytes.length.toLong, md5hex(bytes), tag, w, h)
    }

    for (i <- 0 until 24) write(f"img_png_$i%03d.png", "png", "png", i, 16 + i, 12 + (i * 7) % 30)
    for (i <- 0 until 12) write(f"img_jpg_$i%03d.jpg", "jpg", "jpeg", 100 + i, 20 + 2 * i, 15 + i)
    for (i <- 0 until 4) write(f"img_gif_$i%03d.gif", "gif", "gif", 200 + i, 10 + i, 8 + i)

    // Manifest as ONE parquet file at a stable path (the oracle SQL
    // reads it by literal path).
    val spark = GraftSession(2)
    import spark.implicits._
    FixtureIO.writeSingleFile(spark, entries.toSeq.toDF(),
      s"${new File(outDir).getAbsoluteFile.getParent}/images_manifest.parquet")
    println(s"wrote ${entries.size} images to $outDir + manifest")
    spark.stop()
  }
}
