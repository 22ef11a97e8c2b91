package graft.tools

import java.security.MessageDigest

import graft.GraftSession

/** One-off generator for the CROSS-MODAL retrieval-eval fixtures
  * behind `q_retrieval_eval_mm`: a committed (caption-vec, image-vec)
  * pair manifest over the perceptual-dedup image fixture set, plus a
  * committed trained IVF centroid matrix — so the caption→image ANN
  * path audits end-to-end with every input a committed artifact.
  *
  *   - `img_vec` (64-dim, unit): derived deterministically from the
  *     image's COMMITTED perceptual signature bits (aHash bit j → ±1,
  *     plus 0.5 · dHash bit j — images_dup_manifest is the source of
  *     truth, so same-scene near-dups get near-identical vectors and
  *     the embedding space inherits the planted cluster structure);
  *   - `cap_vec` (unit): the paired "caption embedding" — the image
  *     vector plus a deterministic ±1 perturbation at 0.35/8 ≈ 0.044
  *     per dimension (before renormalization), bit-seeded by the first
  *     8 bytes of md5("cap|" ‖ file) — the stand-in for a text encoder
  *     aligned to the image space (a caption lands NEAR its image, not
  *     on it);
  *   - `mm_centroids.parquet`: RAW k = 4 Lloyd means over the 15 image
  *     vectors (deterministic seed selection by md5-60 order, 5
  *     rounds) — the committed index both engines normalize with the
  *     same element-order arithmetic at query time.
  *
  * Write-time assertions: every caption's own image attains the
  * cosine maximum over the image set (ties only with its byte-near
  * scene siblings), and every cross-scene image sits ≥ 0.05 cosine
  * below it — fixtures that don't carry the cross-modal structure
  * they promise fail the build.
  *
  * Run once, outputs committed:
  * `sbt "runMain graft.tools.GenMmEvalFixtures"`.
  */
object GenMmEvalFixtures {
  private val Dim = 64
  private val K = 4
  private val LloydRounds = 5

  private def md5Bytes(s: String): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))

  private def md5Hash60(s: String): Long =
    java.lang.Long.parseLong(
      md5Bytes(s).take(8).map(b => f"$b%02x").mkString.take(15), 16)

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v.clone() else v.map(_ / n)
  }

  private def cos(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum /
      (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))

  def main(args: Array[String]): Unit = {
    val fixturesDir = args.headOption.getOrElse("fixtures")
    val spark = GraftSession(2)
    import spark.implicits._

    val manifest = spark.read
      .parquet(s"$fixturesDir/images_dup_manifest.parquet")
      .select("file", "scene", "ahash", "dhash")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)

    val rows = manifest.map { case (file, scene, ahash, dhash) =>
      val img = normalize(Array.tabulate(Dim) { j =>
        (if (((ahash >> j) & 1L) == 1L) 1.0 else -1.0) +
          0.5 * (if (((dhash >> j) & 1L) == 1L) 1.0 else -1.0)
      })
      val seed = md5Bytes("cap|" + file) // 64 bits consumed: bytes 0..7
      val u = Array.tabulate(Dim) { j =>
        if (((seed(j / 8) >> (j % 8)) & 1) == 1) 1.0 else -1.0
      }
      val cap = normalize(img.zip(u).map { case (x, y) => x + 0.35 * y / 8.0 })
      (file, scene, img, cap)
    }

    // cross-modal structure must actually hold
    for ((file, scene, _, cap) <- rows) {
      val own = cos(cap, rows.find(_._1 == file).get._3)
      for ((f2, s2, img2, _) <- rows if f2 != file) {
        val c2 = cos(cap, img2)
        if (s2 == scene)
          require(c2 <= own + 1e-9,
            s"$file: scene sibling $f2 beats the own image by ${c2 - own}")
        else
          require(c2 < own - 0.05,
            s"$file: cross-scene $f2 at cosine $c2 vs own $own — margin broken")
      }
    }

    // deterministic Lloyd over the image vectors: seeds by md5-60
    // order (spread), argmax-last assignment, raw means committed
    val byId = rows.sortBy(r => md5Hash60(r._1))
    var cents: Array[Array[Double]] =
      Array.tabulate(K)(i => byId(i * byId.length / K)._3.clone())
    for (_ <- 0 until LloydRounds) {
      val unit = cents.map(normalize)
      val assign = rows.map { case (_, _, img, _) =>
        val scores = unit.map(c => img.zip(c).map { case (x, y) => x * y }.sum)
        val best = scores.max
        scores.lastIndexWhere(_ == best) // the bestCell larger-cell tie rule
      }
      cents = Array.tabulate(K) { k =>
        val members = rows.indices.filter(assign(_) == k)
        if (members.isEmpty) cents(k)
        else {
          val sum = Array.fill(Dim)(0.0)
          members.foreach(i => rows(i)._3.indices.foreach(j => sum(j) += rows(i)._3(j)))
          sum.map(_ / members.size)
        }
      }
    }

    FixtureIO.writeSingleFile(spark, rows.toSeq.map(r => (r._1, r._3, r._4))
      .toDF("file", "img_vec", "cap_vec"), s"$fixturesDir/mm_pairs.parquet")
    FixtureIO.writeSingleFile(spark,
      cents.zipWithIndex.toSeq.map { case (c, i) => (i, c) }
        .toDF("cid", "cvec"), s"$fixturesDir/mm_centroids.parquet")
    println(s"wrote mm_pairs (${rows.length} pairs) + mm_centroids ($K cells)")
    spark.stop()
  }
}
