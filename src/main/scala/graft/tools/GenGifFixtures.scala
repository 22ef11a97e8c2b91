package graft.tools

import java.awt.image.BufferedImage
import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import javax.imageio.stream.MemoryCacheImageOutputStream
import javax.imageio.{IIOImage, ImageIO}

import graft.GraftSession

/** One-off generator for the MULTI-FRAME (animated GIF) near-dup
  * fixtures behind `multimodal_video_dedup` and the real-frames
  * `multimodal_frames`: deterministic grayscale frame patterns (exact
  * 256-level palette, so the GIF round-trip is lossless), assembled
  * into clips that plant the three arrival classes a video crawl
  * sees —
  *
  *   - `vid_s00_extra` = `vid_s00_base` with the intro frame swapped
  *     for junk (3 of 4 frames shared byte-exact) → MERGED;
  *   - `vid_s01_pix`  = `vid_s01_base` with a one-pixel edit per
  *     frame (3 near-matching frames, Hamming ≤ 3 both hashes) →
  *     MERGED;
  *   - `vid_s00_one`  shares exactly ONE frame with `vid_s00_base` —
  *     below the ≥ 2 scene-evidence threshold → NOT merged (a stock
  *     title card shared between unrelated clips must not fuse them);
  *   - `vid_s04_a` / `vid_s04_b` open with the SAME card shown twice,
  *     then diverge — 4 matching frame pairs but ONE shared scene →
  *     NOT merged (the trap that catches pair-counting evidence).
  *
  * Ground truth is recorded AT WRITE TIME into a per-frame manifest
  * (file, frame_idx, ahash, dhash, n_frames, length, content_md5) via
  * [[graft.functions.ImageFramePhash.parse]] over the exact committed
  * bytes, and the generator FAILS unless the planted geometry holds:
  * every planted frame pair within Hamming ≤ 3 on BOTH hashes, every
  * other frame pair ≥ 8 on both, and the shared-frame counts exactly
  * as designed.
  *
  * Run once, outputs committed:
  * `sbt "runMain graft.tools.GenGifFixtures"`.
  */
object GenGifFixtures {
  private val W = 64
  private val H = 48

  /** Deterministic grayscale frame pattern — stripe frequencies and an
    * inverted rectangle seeded by (scene, frame); distinct (scene,
    * frame) pairs sit ≥ 8 bits apart on both hashes (verified at write
    * time over the committed bytes). */
  private def frame(scene: Int, fr: Int, editPixel: Boolean = false): BufferedImage = {
    val kx = 1 + (scene * 5 + fr * 3) % 6
    val ky = 1 + (scene * 2 + fr) % 4
    val rx = (scene * 13 + fr * 7) % (W / 2)
    val ry = (scene * 7 + fr * 11) % (H / 2)
    val img = new BufferedImage(W, H, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    for (y <- 0 until H; x <- 0 until W) {
      var v = (x * kx * 255 / W + y * ky * 255 / H) % 256
      if (x >= rx && x < rx + W / 3 && y >= ry && y < ry + H / 3) v = 255 - v
      raster.setSample(x, y, 0, v)
    }
    if (editPixel) raster.setSample(5, 5, 0, 255 - raster.getSample(5, 5, 0))
    img
  }

  private def gifBytes(frames: Seq[BufferedImage]): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach(f => writer.writeToSequence(new IIOImage(f, null, null),
      writer.getDefaultWriteParam))
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  private def md5hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  case class Entry(file: String, frame_idx: Int, ahash: Long, dhash: Long,
    n_frames: Int, length: Long, content_md5: String)

  /** (scene, frame, editPixel) recipe per clip. Scenes 8/9 are junk
    * frames appearing in exactly one clip each. */
  private val clips: Seq[(String, Seq[(Int, Int, Boolean)])] = Seq(
    "vid_s00_base.gif" -> Seq((0, 0, false), (0, 1, false), (0, 2, false), (0, 3, false)),
    "vid_s00_extra.gif" -> Seq((8, 0, false), (0, 1, false), (0, 2, false), (0, 3, false)),
    "vid_s00_one.gif" -> Seq((0, 0, false), (9, 0, false), (9, 1, false)),
    "vid_s01_base.gif" -> Seq((1, 0, false), (1, 1, false), (1, 2, false)),
    "vid_s01_pix.gif" -> Seq((1, 0, true), (1, 1, true), (1, 2, true)),
    "vid_s02_base.gif" -> Seq((2, 0, false), (2, 1, false), (2, 2, false)),
    "vid_s03_base.gif" -> Seq((3, 0, false), (3, 1, false)),
    // the repeated-title-card trap: both clips open with the SAME card
    // shown twice, then diverge — 4 matching frame PAIRS but only ONE
    // shared scene, so pair counting would fuse them and scene-level
    // evidence must not
    "vid_s04_a.gif" -> Seq((4, 0, false), (4, 0, false), (4, 1, false)),
    "vid_s04_b.gif" -> Seq((4, 0, false), (4, 0, false), (4, 2, false)))

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("fixtures/video")
    new File(outDir).mkdirs()
    val entries = scala.collection.mutable.ArrayBuffer[Entry]()
    // which pattern each committed frame came from, for the geometry check
    val pattern = scala.collection.mutable.Map[(String, Int), (Int, Int, Boolean)]()

    for ((name, recipe) <- clips) {
      val bytes = gifBytes(recipe.map { case (s, f, e) => frame(s, f, e) })
      Files.write(Paths.get(outDir, name), bytes)
      val parsed = graft.functions.ImageFramePhash.parse(bytes)
      require(parsed != null && parsed.numElements() == recipe.size,
        s"$name: expected ${recipe.size} decodable frames, got $parsed")
      for (i <- 0 until parsed.numElements()) {
        val row = parsed.getStruct(i, 3)
        entries += Entry(name, row.getInt(0), row.getLong(1), row.getLong(2),
          recipe.size, bytes.length.toLong, md5hex(bytes))
        pattern((name, i)) = recipe(i)
      }
    }

    // planted geometry, on the COMMITTED bytes: a frame pair matches
    // (≤ 3 both hashes) iff its patterns share (scene, frame) — the
    // one-pixel edit must stay within radius, everything else ≥ 8 apart
    for (a <- entries; b <- entries if a.file < b.file || (a.file == b.file && a.frame_idx < b.frame_idx)) {
      val da = java.lang.Long.bitCount(a.ahash ^ b.ahash)
      val dd = java.lang.Long.bitCount(a.dhash ^ b.dhash)
      val pa = pattern((a.file, a.frame_idx))
      val pb = pattern((b.file, b.frame_idx))
      if ((pa._1, pa._2) == (pb._1, pb._2)) {
        require(da <= 3 && dd <= 3,
          s"planted pair ${a.file}#${a.frame_idx}/${b.file}#${b.frame_idx} at dist ($da,$dd) > 3")
      } else {
        require(da >= 8 && dd >= 8,
          s"unplanned pair ${a.file}#${a.frame_idx}/${b.file}#${b.frame_idx} at dist ($da,$dd) < 8")
      }
    }
    // shared-frame counts drive the ≥ 2 merge rule — pin them exactly
    def shared(f1: String, f2: String): Int =
      (for (a <- entries if a.file == f1; b <- entries if b.file == f2
            if (pattern((a.file, a.frame_idx))._1, pattern((a.file, a.frame_idx))._2) ==
              (pattern((b.file, b.frame_idx))._1, pattern((b.file, b.frame_idx))._2))
        yield 1).sum
    def distinctShared(f1: String, f2: String): Int = {
      def scenes(f: String) = entries.filter(_.file == f)
        .map(e => { val p = pattern((e.file, e.frame_idx)); (p._1, p._2) }).toSet
      (scenes(f1) & scenes(f2)).size
    }
    require(shared("vid_s00_base.gif", "vid_s00_extra.gif") == 3)
    require(shared("vid_s00_base.gif", "vid_s00_one.gif") == 1)
    require(shared("vid_s00_extra.gif", "vid_s00_one.gif") == 0)
    require(shared("vid_s01_base.gif", "vid_s01_pix.gif") == 3)
    // the trap must actually be a trap: 4 matched pairs, 1 shared scene
    require(shared("vid_s04_a.gif", "vid_s04_b.gif") == 4)
    require(distinctShared("vid_s04_a.gif", "vid_s04_b.gif") == 1)
    require(distinctShared("vid_s00_base.gif", "vid_s00_extra.gif") == 3)

    val spark = GraftSession(2)
    import spark.implicits._
    FixtureIO.writeSingleFile(spark, entries.toSeq.toDF(),
      s"${new File(outDir).getAbsoluteFile.getParent}/video_manifest.parquet")
    println(s"wrote ${clips.size} clips to $outDir + manifest (${entries.size} frame rows)")
    spark.stop()
  }
}
