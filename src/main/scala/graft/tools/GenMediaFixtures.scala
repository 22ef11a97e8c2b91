package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.GraftSession

/** One-off generator for the REAL audio/video fixtures behind
  * `multimodal_audio` — the WAV/MP4 sibling of [[GenImageFixtures]].
  * No media library exists in this environment (and none is needed):
  * both containers are assembled byte-by-byte from their public
  * specifications —
  *
  *   - WAV: RIFF/WAVE with a 16-byte PCM `fmt ` chunk and a `data`
  *     chunk of deterministic 16-bit samples (a per-file seeded
  *     triangle-ish wave) — a fully valid, playable PCM file;
  *   - MP4: ISO BMFF `ftyp` + `moov(mvhd + trak(tkhd))` + a small
  *     `mdat` — structurally real boxes carrying real timescale/
  *     duration/dimension fields (no codec payload; the probe under
  *     test reads containers, not codecs).
  *
  * Ground truth (file, length, md5, format, duration_ms, channels,
  * sample_rate, width, height) is recorded AT WRITE TIME into
  * `media_manifest.parquet` — the DuckDB oracle replays the manifest,
  * independent of the parser under test, and the md5 pins that the
  * engine saw the exact committed bytes.
  *
  * Run once, outputs committed: `sbt "runMain graft.tools.GenMediaFixtures"`.
  */
object GenMediaFixtures {

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** Valid PCM WAV: 16-bit samples, deterministic per (seed, i). */
  def wavBytes(seed: Int, channels: Int, rate: Int, nSamples: Int): Array[Byte] = {
    val bits = 16
    val blockAlign = channels * bits / 8
    val byteRate = rate * blockAlign
    val dataSize = nSamples * blockAlign
    val out = new java.io.ByteArrayOutputStream()
    out.write(cc("RIFF")); out.write(le32(36L + dataSize)); out.write(cc("WAVE"))
    out.write(cc("fmt ")); out.write(le32(16))
    out.write(le16(1)) // PCM
    out.write(le16(channels))
    out.write(le32(rate))
    out.write(le32(byteRate))
    out.write(le16(blockAlign))
    out.write(le16(bits))
    out.write(cc("data")); out.write(le32(dataSize))
    var i = 0
    while (i < nSamples * channels) {
      out.write(le16(((i * 131 + seed * 977) % 65536) - 32768 & 0xffff))
      i += 1
    }
    out.toByteArray
  }

  private def box(tpe: String, content: Array[Byte]*): Array[Byte] = {
    val inner = content.map(_.length).sum
    val out = new java.io.ByteArrayOutputStream()
    out.write(be32(8L + inner)); out.write(cc(tpe))
    content.foreach(out.write)
    out.toByteArray
  }

  /** Minimal ISO BMFF: ftyp + moov(mvhd v0 + trak(tkhd v0)) + mdat. */
  def mp4Bytes(timescale: Int, durationUnits: Long, w: Int, h: Int): Array[Byte] = {
    val ftyp = box("ftyp", cc("isom"), be32(512), cc("isom"), cc("iso2"))
    val mvhd = box("mvhd",
      be32(0), // version 0 + flags
      be32(0), be32(0), // ctime, mtime
      be32(timescale), be32(durationUnits),
      be32(0x00010000L), le16(0x01).reverse, le16(0), // rate 1.0, volume, reserved
      be32(0), be32(0), // reserved
      // unity matrix
      be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
      be32(0), be32(0), be32(0), be32(0x40000000L),
      be32(0), be32(0), be32(0), be32(0), be32(0), be32(0), // pre_defined
      be32(2)) // next track id
    val tkhd = box("tkhd",
      be32(7), // version 0 + flags (enabled|in-movie|in-preview)
      be32(0), be32(0), // ctime, mtime
      be32(1), be32(0), // track id, reserved
      be32(durationUnits),
      be32(0), be32(0), // reserved
      le16(0).reverse, le16(0).reverse, le16(0).reverse, le16(0).reverse,
      // unity matrix
      be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
      be32(0), be32(0), be32(0), be32(0x40000000L),
      be32(w.toLong << 16), be32(h.toLong << 16)) // 16.16 fixed
    val moov = box("moov", mvhd, box("trak", tkhd))
    val mdat = box("mdat", Array.tabulate[Byte](64)(i => (i * 37 % 251).toByte))
    ftyp ++ moov ++ mdat
  }

  private def md5hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  case class Entry(file: String, length: Long, content_md5: String,
    format: String, duration_ms: Long, channels: Int, sample_rate: Int,
    width: Int, height: Int)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("fixtures/media")
    new File(outDir).mkdirs()
    val entries = scala.collection.mutable.ArrayBuffer[Entry]()

    def writeFile(name: String, bytes: Array[Byte], e: (Long, String) => Entry): Unit = {
      Files.write(Paths.get(outDir, name), bytes)
      entries += e(bytes.length.toLong, md5hex(bytes))
    }

    // WAV: channels × rates × lengths — duration truth is the integer
    // arithmetic the probe must reproduce: dataBytes*1000/byteRate.
    val wavCfgs = Seq((1, 8000, 800), (1, 16000, 4000), (2, 8000, 1200),
      (2, 44100, 44100), (1, 22050, 11025), (2, 16000, 24000),
      (1, 44100, 4410), (2, 22050, 2205))
    wavCfgs.zipWithIndex.foreach { case ((ch, rate, ns), i) =>
      val bytes = wavBytes(seed = 31 + i, ch, rate, ns)
      val dataSize = ns.toLong * ch * 2
      val durMs = dataSize * 1000L / (rate.toLong * ch * 2)
      writeFile(f"aud_wav_$i%03d.wav", bytes, (len, md5) =>
        Entry(f"aud_wav_$i%03d.wav", len, md5, "wav", durMs, ch, rate, 0, 0))
    }

    // MP4: timescale × duration × dims.
    val mp4Cfgs = Seq((600, 3000L, 320, 240), (1000, 12345L, 640, 360),
      (90000, 900000L, 1280, 720), (600, 60L, 160, 120),
      (24, 240L, 1920, 1080), (1000, 1L, 16, 16))
    mp4Cfgs.zipWithIndex.foreach { case ((ts, du, w, h), i) =>
      val bytes = mp4Bytes(ts, du, w, h)
      writeFile(f"vid_mp4_$i%03d.mp4", bytes, (len, md5) =>
        Entry(f"vid_mp4_$i%03d.mp4", len, md5, "mp4",
          du * 1000L / ts, 0, ts, w, h))
    }

    val spark = GraftSession(2)
    import spark.implicits._
    FixtureIO.writeSingleFile(spark, entries.toSeq.toDF(),
      s"${new File(outDir).getAbsoluteFile.getParent}/media_manifest.parquet")
    println(s"wrote ${entries.size} media files to $outDir + manifest")
    spark.stop()
  }
}
