package graft.tools

import java.awt.image.BufferedImage
import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import javax.imageio.stream.MemoryCacheImageOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import graft.GraftSession

/** One-off generator for the perceptual-near-dup image fixtures behind
  * `multimodal_phash_dedup`: deterministic structured "scenes" (JDK
  * encoders only), each committed as a PNG plus — for the planted
  * near-dup scenes — JPEG re-encodes at two qualities, an exact byte
  * copy, and a one-pixel edit. Ground truth is recorded AT WRITE TIME
  * in a manifest parquet (file, length, md5, scene, ahash, dhash): the
  * signatures are [[graft.functions.ImagePhash.parse]] over the exact
  * committed bytes, so the DuckDB oracle can replay banding + Hamming
  * verification + components from the manifest alone while the
  * engine-side query must reproduce the same signatures from the BYTES
  * — the `multimodal_real` manifest pattern extended from header
  * fields to pixel-derived values.
  *
  * The generator FAILS if the planted geometry doesn't hold: every
  * within-scene pair must sit at aHash Hamming ≤ 3 (the Manku
  * 4-block losslessness radius) and every cross-scene pair ≥ 8 —
  * committed fixtures are only useful if the clusters they promise
  * are real.
  *
  * Run once, outputs committed:
  * `sbt "runMain graft.tools.GenPhashFixtures"`.
  */
object GenPhashFixtures {
  private val W = 64
  private val H = 48

  /** Deterministic structured scene: gradients + a seed-positioned
    * inverted rectangle + a vertical banding pattern — enough spatial
    * structure that 8×8 luminance cells differ scene to scene. */
  private def pixel(seed: Int, x: Int, y: Int): Int = {
    var r = (x * 255 / W + seed * 37) % 256
    var g = (y * 255 / H + seed * 53) % 256
    var b = ((x + y) * 255 / (W + H) + seed * 11) % 256
    val rx = (seed * 13) % (W / 2)
    val ry = (seed * 7) % (H / 2)
    if (x >= rx && x < rx + W / 3 && y >= ry && y < ry + H / 3) {
      r = 255 - r; g = 255 - g
    }
    if (((x + seed * 5) / (W / 4 + 1)) % 2 == 0) b = b / 3
    (r << 16) | (g << 8) | b
  }

  private def scene(seed: Int): BufferedImage = {
    val img = new BufferedImage(W, H, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until W; y <- 0 until H) img.setRGB(x, y, pixel(seed, x, y))
    img
  }

  private def pngBytes(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def jpgBytes(img: BufferedImage, quality: Float): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), param)
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  private def md5hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  case class Entry(file: String, length: Long, content_md5: String,
    scene: Int, ahash: Long, dhash: Long)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("fixtures/images_dup")
    new File(outDir).mkdirs()
    val entries = scala.collection.mutable.ArrayBuffer[Entry]()

    def write(name: String, sceneId: Int, bytes: Array[Byte]): Unit = {
      Files.write(Paths.get(outDir, name), bytes)
      val row = graft.functions.ImagePhash.parse(bytes)
      require(row != null, s"$name: generator wrote an undecodable image")
      entries += Entry(name, bytes.length.toLong, md5hex(bytes), sceneId,
        row.getLong(0), row.getLong(1))
    }

    val nScenes = 10
    val images = (0 until nScenes).map(scene)
    for (s <- 0 until nScenes) write(f"dup_s$s%02d_base.png", s, pngBytes(images(s)))
    // scene 0: exact byte copy + JPEG re-encode — the classic mirror-site pair
    write("dup_s00_copy.png", 0, pngBytes(images(0)))
    write("dup_s00_q90.jpg", 0, jpgBytes(images(0), 0.9f))
    // scene 1: one-pixel edit
    val edited = scene(1)
    edited.setRGB(5, 5, 0xffffff)
    write("dup_s01_pixel.png", 1, pngBytes(edited))
    // scene 2: two JPEG re-encodes at different qualities — a 3-member
    // cluster whose members never share bytes
    write("dup_s02_q90.jpg", 2, jpgBytes(images(2), 0.9f))
    write("dup_s02_q70.jpg", 2, jpgBytes(images(2), 0.7f))

    // planted geometry must actually hold, or the fixtures are lies —
    // on BOTH signatures, since the probe family verifies both
    for (a <- entries; b <- entries if a.file < b.file) {
      val d = java.lang.Long.bitCount(a.ahash ^ b.ahash)
      val dd = java.lang.Long.bitCount(a.dhash ^ b.dhash)
      if (a.scene == b.scene) {
        require(d <= 3, s"within-scene pair ${a.file}/${b.file} at ahash dist $d > 3")
        require(dd <= 3, s"within-scene pair ${a.file}/${b.file} at dhash dist $dd > 3")
      } else {
        require(d >= 8, s"cross-scene pair ${a.file}/${b.file} at ahash dist $d < 8")
        require(dd >= 8, s"cross-scene pair ${a.file}/${b.file} at dhash dist $dd < 8")
      }
    }

    val spark = GraftSession(2)
    import spark.implicits._
    FixtureIO.writeSingleFile(spark, entries.toSeq.toDF(),
      s"${new File(outDir).getAbsoluteFile.getParent}/images_dup_manifest.parquet")
    println(s"wrote ${entries.size} images to $outDir + manifest")
    spark.stop()
  }
}
