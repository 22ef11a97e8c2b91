package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING over a corpus (Sennrich et al.
  * ACL 2016 — the subword vocabulary construction behind every modern
  * LLM tokenizer), plus corpus encoding under the learned merges. The
  * missing member next to the token-counting and LM-scoring family: a
  * pretraining build learns its tokenizer FROM the corpus, and both the
  * merge table and the resulting tokens-per-document (the token budget
  * that drives packing and mixing) are corpus-scale jobs.
  *
  * The classic algorithm is a sequential loop; the scalable form
  * (Sennrich's own implementation, SentencePiece likewise) trains on the
  * WORD-FREQUENCY TABLE, not the corpus:
  *
  *   - The corpus is touched exactly ONCE — one explode→count pass
  *     builds (word, cnt). Everything after runs on that vocabulary
  *     relation, Heaps-law-bounded (orders of magnitude below corpus
  *     size; tiny even at 100 TB of natural text).
  *   - Each of the N merge steps is one aggregation over the vocab's
  *     adjacent symbol pairs (weighted by word count) + a 1-row argmax
  *     collect — the driver holds N (step, pair) rows, a model
  *     parameter like the k-means centroids. The evolving segmentation
  *     is ONE merge-table-as-data kernel
  *     ([[graft.functions.BpeSegmentExpr]]) over the persisted base —
  *     plan size O(1) in the step count — and no step re-reads the
  *     corpus.
  *   - ENCODING goes through the vocabulary too: distinct words map to
  *     token counts once, and the corpus joins that map (broadcast at
  *     sane vocab sizes) — per-document token budgets without
  *     re-segmenting every occurrence.
  *
  * Segmentation state is a flanked string with DOUBLE-space separators
  * (" w  o  r  d ": two spaces between symbols, one on each end). The
  * merge rewrite `replace(seg, " a  b ", " ab ")` then consumes exactly
  * one of the two boundary spaces on each side — so back-to-back
  * occurrences of the same pair (" a  b  a  b ", or a run " a  a  a ")
  * each leave the single space the next match needs, and left-to-right
  * non-overlapping `replace` IS greedy per-word BPE exactly. Symbols
  * never contain spaces, so the pattern can never match inside a symbol
  * or across the word boundary. Ties in pair frequency break on
  * (w1, w2) byte order. Characters are split with a regex `.` —
  * identical across engines up to the basic multilingual plane (an
  * astral code point is two chars to Java, one to RE2; no corpus
  * fixture contains one).
  */
object Bpe {

  /** One learned merge: at `step`, the adjacent symbol pair (w1, w2)
    * had the highest frequency-weighted count and fused into `merged`. */
  final case class Merge(step: Int, w1: String, w2: String, merged: String,
      pairCount: Long)

  /** Flanked initial segmentation: " a  b  c " for word "abc" (double
    * spaces between symbols, single flanks — the greedy-replace
    * invariant). */
  def charSeg(word: Column): Column =
    concat(lit(" "), trim(regexp_replace(word, "(.)", "$1  ")), lit(" "))

  /** One corpus pass: (word, cnt). */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Adjacent symbol pairs of `segCol` weighted by `cnt`:
    * (w1, w2, c). */
  private def pairCounts(base: DataFrame, segCol: Column): DataFrame = {
    val tk = base.select(col("cnt"), split(trim(segCol), "  ").as("tk"))
      .filter(size(col("tk")) > 1)
    tk.select(col("cnt"), explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(sum("cnt").as("c"))
  }

  /** The trained tokenizer: the ordered merge list and the final
    * vocabulary segmentation (word, cnt, seg). */
  final case class BpeModel(merges: Seq[Merge], vocabSeg: DataFrame)

  /** Train `nMerges` merges. Stops early if the vocabulary runs out of
    * adjacent pairs (every word fused to one symbol). */
  def train(docs: DataFrame, textCol: String, nMerges: Int): BpeModel =
    Materialize.cached(wordCounts(docs, textCol)
        .withColumn("seg", charSeg(col("word")))) { base =>
      var segCol: Column = col("seg")
      val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
      var step = 1
      var exhausted = false
      while (step <= nMerges && !exhausted) {
        val best = pairCounts(base, segCol)
          .orderBy(col("c").desc, col("w1"), col("w2"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (w1, w2, c) = (best.head.getString(0), best.head.getString(1),
            best.head.getLong(2))
          val merged = w1 + w2
          merges += Merge(step, w1, w2, merged, c)
          // the evolving segmentation is the ONE merge-table-as-data
          // kernel over the persisted base — plan size O(1) in the step
          // count, so training to a 32k-merge vocabulary never grows the
          // expression tree (the fold form is step-linear)
          segCol = segmentCol(col("word"), merges.toSeq)
          step += 1
        }
      }
      // Materialize the final segmentation (vocab-sized — one cheap job):
      // vocabSeg keeps no lineage back to the training cache.
      val vocabSeg = Materialize(base.select(col("word"), col("cnt"), segCol.as("seg")))
      BpeModel(merges.toSeq, vocabSeg)
    }

  /** The merge table as a DataFrame — the `text_bpe_train` surface. */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF("step", "w1", "w2", "merged", "pair_count")
  }

  /** Segmentation of ANY word under a frozen merge list — by
    * construction this reproduces [[BpeModel.vocabSeg]] exactly for
    * in-vocabulary words (training built the vocab seg through the same
    * merge order) and handles OUT-of-vocabulary words the way a real
    * tokenizer does (merges that apply, apply; the rest stays
    * character-split). The merge list rides the expression as TWO
    * reference-object arrays ([[graft.functions.BpeSegmentExpr]] — the
    * centroids-as-data idiom), so the kernel survives a production 32k-
    * merge vocabulary where a fold of N literal `replace`s would blow
    * Janino's method cap. For an in-vocab corpus the [[encodeStats]]
    * vocabulary join costs less per occurrence — this form is the
    * streaming/frozen-model path where unseen words must not drop. */
  def segmentCol(word: Column, merges: Seq[Merge]): Column =
    graft.functions.functions.bpe_segment(word,
      merges.map(m => (s" ${m.w1}  ${m.w2} ", s" ${m.merged} ")))

  /** The reference fold-of-replaces form [[segmentCol]] replaces: one
    * literal `replace` expression per merge — byte-identical semantics
    * (BpeSpec pins it), linear plan size in N. Kept for the parity gate
    * and as the executable spec of the merge rewrite. */
  private[graft] def segmentColUnfused(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(charSeg(word)) { (seg, m) =>
      org.apache.spark.sql.functions.replace(
        seg, lit(s" ${m.w1}  ${m.w2} "), lit(s" ${m.merged} "))
    }

  /** Subword count of a word under frozen merges. */
  def ntokCol(word: Column, merges: Seq[Merge]): Column =
    size(split(trim(segmentCol(word, merges)), "  "))

  /** [[encodeStats]] under a FROZEN merge list, vocabulary-free: per
    * occurrence, the fold-of-replaces segmentation (OOV-safe). Output
    * schema identical to [[encodeStats]]. */
  def encodeStatsFrozen(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .select(col("id"), ntokCol(col("word"), merges).as("ntok"),
        length(col("word")).as("nch"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"),
        sum("ntok").as("n_bpe_tokens"),
        round(sum(col("nch")).cast("double") / sum(col("ntok")), 4).as("bpe_ratio"))

  /** Per-document token budget under the trained merges: every word
    * maps to its subword count via the vocabulary (one broadcast-sized
    * relation), the corpus joins it once. Output: (id, n_words,
    * n_bpe_tokens, bpe_ratio = chars/token rounded 4 dp). */
  def encodeStats(docs: DataFrame, idCol: String, textCol: String,
      model: BpeModel): DataFrame = {
    val nTok = model.vocabSeg
      .select(col("word"), size(split(trim(col("seg")), "  ")).as("ntok"),
        length(col("word")).as("nch"))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .join(broadcast(nTok), Seq("word"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"),
        sum("ntok").as("n_bpe_tokens"),
        round(sum(col("nch")).cast("double") / sum(col("ntok")), 4).as("bpe_ratio"))
  }

  /** Tokenizer FERTILITY audit by group — the number a tokenizer is
    * actually judged by, per language/domain: tokens-per-word
    * (fertility — a tokenizer trained on English typically fragments
    * other scripts into more pieces per word, which silently inflates
    * their effective token cost in a mixed corpus) and chars-per-token
    * (compression), aggregated over `groupCol` instead of per doc.
    * Same plan shape as [[encodeStats]]: one corpus word scan joined to
    * the broadcast vocabulary map, one group-by over the (small)
    * group domain. Output: (grp, n_words, n_bpe_tokens, fertility,
    * chars_per_token), 4-dp rounded ratios. */
  def fertilityByGroup(docs: DataFrame, groupCol: String, textCol: String,
      model: BpeModel): DataFrame = {
    val nTok = model.vocabSeg
      .select(col("word"), size(split(trim(col("seg")), "  ")).as("ntok"),
        length(col("word")).as("nch"))
    docs.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("grp"),
        explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .join(broadcast(nTok), Seq("word"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_words"),
        sum("ntok").as("n_bpe_tokens"),
        round(sum(col("ntok")).cast("double") / count(lit(1)), 4).as("fertility"),
        round(sum(col("nch")).cast("double") / sum(col("ntok")), 4).as("chars_per_token"))
  }
}
