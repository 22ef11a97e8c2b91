package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Committed generator for the LABELED text-quality fixture that
  * [[TrainClassifier]] trains on — the [[GenMediaFixtures]] pattern
  * applied to training data: a deterministic tool the repo commits,
  * whose output (plus a write-time manifest) is itself committed, so
  * an auditor can regenerate the corpus bit-for-bit and check the
  * digest.
  *
  * Why this exists: the first-generation trainer derived its labels
  * from `stopword_ratio ≥ 0.0625` — a rule the engine already computes
  * at scan speed, so the learned model predicted a signal a one-line
  * filter gives for free (the round-12 verdict's "label circularity").
  * Here the label is GROUND TRUTH BY CONSTRUCTION: each document is
  * drawn from one of six generative classes, three good and three bad,
  * and the label is the class's quality, not any measurable statistic.
  * Crucially, HALF the corpus is adversarial to the stopword rule —
  * classes built so the rule gets them WRONG:
  *
  *   - `g_prose`  (good, rule agrees): templated English sentences —
  *     articles/prepositions around a content vocabulary, the
  *     stopword-rich shape the rule was designed for.
  *   - `g_terse`  (good, rule WRONG): high-quality telegraphic
  *     reference text — recipes, maintenance steps, lab notes. Almost
  *     no function words (ratio < 0.0625), yet exactly the sort of
  *     document a training corpus wants to keep.
  *   - `g_dialog` (good, rule agrees): short question/answer exchanges
  *     over the same content vocabulary with natural function words.
  *   - `b_stuffed` (bad, rule WRONG): promo keyword stuffing padded
  *     with function words — the classic adversarial spam shape that
  *     passes any stopword-density gate.
  *   - `b_repeat` (bad, rule WRONG): one spammy call-to-action phrase
  *     (containing stopwords) repeated over and over.
  *   - `b_junk`   (bad, rule agrees): pseudo-word and symbol soup from
  *     a fixed junk vocabulary, no function words.
  *
  * A bag-of-words model CAN earn these labels (content vocabulary vs
  * promo/junk vocabulary is distributional), while the stopword rule
  * structurally cannot — `rule_acc` in the manifest records exactly how
  * badly (= the non-adversarial fraction), and ClassifierSpec pins that
  * the trained model separates held-out docs the rule misclassifies.
  *
  * All vocabulary is generic English written for this tool; the
  * pseudo-words are seeded consonant-vowel strings. Deterministic:
  * same seed → same corpus (the manifest digest makes drift loud).
  *
  * Run (outputs committed): `sbt "runMain graft.tools.GenQualityFixtures"`.
  */
object GenQualityFixtures {

  val Seed = 20260814L
  val DocsPerClass = 400
  val RuleThreshold = 0.0625 // the stopword gate the corpus is adversarial to

  private val stop = graft.ops.TextAnalysis.defaultStopwords.toIndexedSeq
  private val preps = IndexedSeq("of", "to", "in", "on", "with", "by", "at")

  private val adjs = IndexedSeq("quiet", "bright", "ancient", "narrow",
    "gentle", "steady", "curious", "careful", "broad", "green", "golden",
    "distant", "heavy", "early", "patient", "crooked", "pale", "warm")
  private val nouns = IndexedSeq("river", "mountain", "forest", "harvest",
    "winter", "village", "stone", "bridge", "garden", "teacher", "student",
    "library", "history", "weather", "ocean", "island", "valley", "meadow",
    "lantern", "journey", "market", "festival", "harbor", "sailor",
    "letter", "evening", "road", "orchard", "mill", "bell")
  private val verbs = IndexedSeq("walked", "carried", "gathered", "built",
    "painted", "studied", "watched", "learned", "planted", "repaired",
    "discovered", "measured", "described", "remembered", "crossed",
    "followed", "opened", "mended", "counted", "waited")

  private val terse = IndexedSeq("preheat", "oven", "180c", "mix", "flour",
    "sugar", "salt", "butter", "bake", "25", "minutes", "stir", "simmer",
    "chop", "onions", "garlic", "boil", "water", "drain", "serve",
    "install", "bolt", "tighten", "torque", "10mm", "valve", "bracket",
    "align", "measure", "cut", "sand", "prime", "paint", "dry", "repeat",
    "voltage", "check", "replace", "fuse", "battery", "connect",
    "terminal", "ground", "500ml", "2kg", "step", "remove", "cover",
    "inspect", "seal")

  private val promo = IndexedSeq("buy", "cheap", "deal", "deals",
    "discount", "click", "here", "win", "winner", "prize", "free",
    "bonus", "offer", "limited", "cash", "jackpot", "miracle",
    "guaranteed", "instant", "earn", "money", "rich", "secret", "trick",
    "unsubscribe", "promo", "code", "sale", "exclusive", "urgent",
    "congratulations", "claim", "reward", "membership", "upgrade")

  /** Fixed junk vocabulary: seeded pseudo-words + symbol tokens. Fixed
    * (not per-doc random) so junk is a learnable DISTRIBUTION — real
    * spam repeats its garbage — rather than a uniform spray over every
    * hash bucket. */
  private def junkVocab(rnd: scala.util.Random): IndexedSeq[String] = {
    val cons = "bcdfghjklmnpqrstvwz"
    val vows = "aeiou"
    val words = (1 to 90).map { _ =>
      val syl = 2 + rnd.nextInt(3)
      (1 to syl).map(_ =>
        s"${cons(rnd.nextInt(cons.length))}${vows(rnd.nextInt(vows.length))}${
          if (rnd.nextBoolean()) cons(rnd.nextInt(cons.length)).toString else ""}")
        .mkString
    }
    val syms = (1 to 30).map(_ =>
      s"x${rnd.nextInt(16).toHexString}${rnd.nextInt(16).toHexString}$$${rnd.nextInt(99)}")
    words ++ syms
  }

  private def pick[T](rnd: scala.util.Random, xs: IndexedSeq[T]): T =
    xs(rnd.nextInt(xs.length))

  /** One templated prose sentence — articles + prepositions around
    * content words, ~35% function words. */
  private def proseSentence(rnd: scala.util.Random): Seq[String] = {
    val art = if (rnd.nextBoolean()) "the" else "a"
    val art2 = if (rnd.nextBoolean()) "the" else "a"
    rnd.nextInt(3) match {
      case 0 => Seq(art, pick(rnd, adjs), pick(rnd, nouns), pick(rnd, verbs),
        pick(rnd, preps), art2, pick(rnd, nouns))
      case 1 => Seq(art, pick(rnd, nouns), pick(rnd, verbs), "and",
        pick(rnd, verbs), pick(rnd, preps), art2, pick(rnd, adjs),
        pick(rnd, nouns))
      case _ => Seq("it", "is", art, pick(rnd, adjs), pick(rnd, nouns),
        "that", pick(rnd, verbs), pick(rnd, preps), art2, pick(rnd, nouns))
    }
  }

  private def genDoc(klass: String, rnd: scala.util.Random,
      junk: IndexedSeq[String]): String = klass match {
    case "g_prose" =>
      (1 to 5 + rnd.nextInt(5)).flatMap(_ => proseSentence(rnd)).mkString(" ")
    case "g_terse" =>
      // zero function words: every token is an instruction/quantity
      (1 to 30 + rnd.nextInt(25)).map(_ => pick(rnd, terse)).mkString(" ")
    case "g_dialog" =>
      (1 to 3 + rnd.nextInt(3)).flatMap { _ =>
        Seq("where", "is", "the", pick(rnd, nouns)) ++
          Seq("it", "is", pick(rnd, preps), "the", pick(rnd, adjs),
            pick(rnd, nouns))
      }.mkString(" ")
    case "b_stuffed" =>
      // ~40% stopwords + ~60% promo: sails through any stopword gate
      (1 to 40 + rnd.nextInt(30)).map(_ =>
        if (rnd.nextInt(5) < 2) pick(rnd, stop) else pick(rnd, promo))
        .mkString(" ")
    case "b_repeat" =>
      val phrase = Seq("click", "here", "to", "claim", "the",
        pick(rnd, promo), pick(rnd, promo), "now")
      (1 to 5 + rnd.nextInt(6)).flatMap(_ => phrase).mkString(" ")
    case "b_junk" =>
      (1 to 30 + rnd.nextInt(30)).map(_ => pick(rnd, junk)).mkString(" ")
    case other => sys.error(s"unknown class $other")
  }

  val Classes: Seq[(String, Int)] = Seq(
    "g_prose" -> 1, "g_terse" -> 1, "g_dialog" -> 1,
    "b_stuffed" -> 0, "b_repeat" -> 0, "b_junk" -> 0)

  /** The full labeled corpus as in-memory rows (doc_id, klass, label,
    * text) — exposed so specs can regenerate and diff against the
    * committed fixture. */
  def corpus(): Seq[(Long, String, Int, String)] = {
    val rnd = new scala.util.Random(Seed)
    val junk = junkVocab(rnd)
    Classes.zipWithIndex.flatMap { case ((klass, label), ci) =>
      (0 until DocsPerClass).map { i =>
        val id = (ci * DocsPerClass + i).toLong
        (id, klass, label, genDoc(klass, rnd, junk))
      }
    }
  }

  /** Canonical digest: md5 over "id:klass:label:text\n" in id order. */
  def corpusMd5(rows: Seq[(Long, String, Int, String)]): String = {
    val s = rows.sortBy(_._1)
      .map { case (id, k, y, t) => s"$id:$k:$y:$t" }.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("fixtures")
    val spark = GraftSession(8)
    try {
      import spark.implicits._
      val rows = corpus()
      val df = rows.toDF("doc_id", "klass", "label", "text")
      FixtureIO.writeSingleFile(spark, df.orderBy("doc_id"),
        s"$outDir/labeled_quality.parquet")
      // how often the stopword RULE agrees with ground truth — the
      // adversarial design makes this ~0.5, recorded so the "model
      // adds information" claim is checkable from the manifest alone
      val ruleAcc = df.select(
        ((graft.ops.TextAnalysis.stopwordRatio(col("text")) >= RuleThreshold)
          .cast("int") === col("label")).cast("long").as("ok"))
        .agg(avg("ok")).collect().head.getDouble(0)
      val md5 = corpusMd5(rows)
      val manifest = Seq((rows.length.toLong, Classes.count(_._2 == 1).toLong,
        Seed, DocsPerClass.toLong, RuleThreshold, ruleAcc, md5))
        .toDF("n_docs", "n_good_classes", "seed", "docs_per_class",
          "rule_threshold", "rule_acc", "corpus_md5")
      FixtureIO.writeSingleFile(spark, manifest,
        s"$outDir/labeled_quality_manifest.parquet")
      println(f"wrote ${rows.length} labeled docs, rule_acc=$ruleAcc%.4f md5=$md5")
    } finally spark.stop()
  }
}
