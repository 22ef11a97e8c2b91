package graft.ops

import graft.EpochStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Context-window chunking: split each document's token stream into
  * fixed-size windows with a configurable stride (overlap = `size −
  * stride` tokens when `stride < size`; a sampling gap when `stride >
  * size`) — the standard preparation step between a curated corpus and
  * sequence packing ([[graft.queries.CorpusOpsQueries]]'s `q_pack_*`
  * operate on whole docs; training pipelines chunk first so no example
  * exceeds the model context).
  *
  * Scale shape: chunking is embarrassingly parallel — one narrow,
  * whole-stage-codegen'd projection per document (split → explode of
  * the start sequence → slice), NO shuffle anywhere in the operator
  * (ChunkingSpec gates zero Exchange). Output amplification is
  * `≈ size/stride` rows per document; emitting the portable 60-bit
  * chunk hash instead of the chunk text keeps the output relation
  * narrow for downstream joins (dedup across chunks, pack manifests)
  * while `tok_start`/`n_tokens` keep every chunk reconstructible from
  * the source doc.
  *
  * Window-start contract (mirrored exactly by the `text_chunk`
  * oracle): starts are multiples of `stride` in
  * `[0, min(n−1, max(n − size + stride − 1, 0))]` — i.e. step by
  * `stride` but (a) never start at/past the end, and (b) drop trailing
  * windows whose tokens are entirely contained in the previous window
  * (for `stride < size` a naive `start < n` rule emits a final window
  * that adds no new tokens whenever `start − stride + size ≥ n`).
  * Every token belongs to ≥1 chunk when `stride ≤ size`; the tail
  * chunk may be shorter than `size`.
  */
object Chunking {

  /** Whitespace tokens, empties dropped — lockstep with the oracle's
    * `string_split_regex(text, '\s+')` replay (the [[TextIndex]]
    * convention). */
  private def tokens(textCol: Column): Column =
    filter(split(textCol, "\\s+"), t => t =!= "")

  /** Cross-document repeated-span removal (C4/RefinedWeb-style
    * boilerplate scrub): split each doc into DISJOINT `span`-token
    * windows, count each distinct span's cross-doc document frequency,
    * drop spans appearing in more than `maxDf` docs, and rebuild the
    * scrubbed token stream from the kept windows. Near-duplicate and
    * templated documents share exact spans (headers, footers, license
    * blocks); span-level df is the classic signal that removes the
    * shared boilerplate while keeping each doc's unique content.
    *
    * Output: `(id, n_spans, n_kept, n_tokens_clean, clean_hash)` with
    * `clean_hash` the md5-60 of the space-rejoined scrubbed stream
    * (narrow artifact; reconstruction coordinates live in [[chunk]]).
    *
    * Scale shape: span df is one aggregation keyed by the 8-byte span
    * hash (count-distinct-doc under it — the exchange carries (hash,
    * id) pairs, linear in corpus spans); the verdict joins back to the
    * span relation and reduces to a per-doc kept-index LIST, so the
    * only shuffled payloads are hashes and integer indices. The
    * rebuild then RE-SCANS the base table (column-pruned to id+text)
    * and re-slices locally — two cheap scans instead of shuttling the
    * corpus text through two exchanges, the right trade at 100 TB
    * where scan bandwidth is plentiful and shuffle is the bottleneck.
    * The per-doc re-slice is a HOF lambda (interpreted, not codegen) —
    * bounded by kept-span count per doc, far off the hot path.
    */
  def scrubRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      span: Int, maxDf: Long = 1L): DataFrame = {
    require(span > 0, "span must be positive")
    val spans = chunk(docs, idCol, textCol, size = span, stride = span)
    val dfRel = spans.groupBy(col("chunk_hash"))
      .agg(countDistinct(col("id")).as("df"))
    val perDoc = spans.join(dfRel, Seq("chunk_hash"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("df") <= maxDf, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops nulls, so the when() keeps only surviving
        // window indices; sort restores document order.
        sort_array(collect_list(when(col("df") <= maxDf, col("chunk_idx"))))
          .as("kept"))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("ts"))
      .join(perDoc, Seq("id"))
      .withColumn("ct", flatten(transform(col("kept"),
        i => slice(col("ts"), (i * span + 1).cast("int"), lit(span)))))
      .select(col("id"), col("n_spans"), col("n_kept"),
        org.apache.spark.sql.functions.size(col("ct")).as("n_tokens_clean"),
        Dedup.md5TokenHash60(array_join(col("ct"), " ")).as("clean_hash"))
  }

  /** ALIGNMENT-FREE exact repeated-substring scrub — Lee et al.
    * (ACL'22, "Deduplicating Training Data Makes Language Models
    * Better") semantics: remove every token that lies inside a
    * verbatim repeat of ≥ `minLen` tokens occurring more than
    * `maxOcc` times ANYWHERE in the corpus (across documents or
    * within one), at ANY token offset. [[scrubRepeatedSpans]] hashes
    * DISJOINT windows, so a repeated passage that straddles a window
    * boundary — the common case for boilerplate behind
    * variable-length prefixes — escapes it unless the two occurrences
    * happen to share grid alignment (ChunkingSpec plants exactly that
    * miss). This operator is offset-free and EXACT both ways, by one
    * observation: a repeat of length ≥ L contains, and is exactly
    * tiled by, repeated L-grams at EVERY start inside it — so
    * fingerprinting ALL n−L+1 sliding L-grams per document and
    * occurrence-counting them marks precisely the tokens Lee et al.'s
    * suffix array would (a token is in some repeat ≥ L ⇔ some L-gram
    * containing it repeats; modulo only md5-60 collisions, the
    * corpus-wide hashing convention).
    *
    * Output: `(id, n_tokens, n_repeated, n_tokens_clean, clean_hash)`
    * — `n_repeated` the count of repeated gram STARTS in the doc,
    * `clean_hash` the md5-60 of the space-rejoined scrubbed stream.
    *
    * Scale shape: the sliding-gram relation is n rows per n-token
    * document — stride-1 where [[scrubRepeatedSpans]] strides L, i.e.
    * L× more hashing compute (md5 over ~L tokens per position) but
    * the SAME exchange payload shape: the occurrence count groups by
    * the 8-byte gram hash with map-side partial aggregation, and only
    * hashes + integer starts ever shuffle, never text. The repeated
    * relation is pre-filtered to `occ > maxOcc` BEFORE the join back,
    * so the second exchange carries repeated grams only (in a clean
    * corpus, ~nothing). The rebuild re-scans the base table and
    * re-slices locally — the [[scrubRepeatedSpans]] two-scan trade.
    * Coverage union per doc is one sorted-starts interval merge
    * (HOF, linear in repeated starts per doc except for the
    * append-copies-accumulator cost, quadratic only in the number of
    * DISJOINT repeated regions — bounded by n/L in theory, a handful
    * in practice). No suffix array is materialized: Lee et al. sort
    * suffixes to find the repeats; at cluster scale the hash-group
    * does the same discovery as one shuffle, the form Spark executes
    * well. */
  def scrubRepeatedSubstrings(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int, maxOcc: Long = 1L): DataFrame = {
    require(minLen > 0, "minLen must be positive")
    val base = tokenized(docs, idCol, textCol)
    val grams = slidingGrams(base, minLen)
    val repeatedGrams = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOcc)
    // per doc: the sorted repeated starts (empty for untouched docs)
    val repStarts = grams.join(repeatedGrams, Seq("gh"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("s"))).as("starts"))
    rebuildScrubbed(base, repStarts, minLen)
  }

  /** (id, ts, n) over non-null, non-empty docs. */
  private def tokenized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("ts"))
      .withColumn("n", org.apache.spark.sql.functions.size(col("ts")))
      .filter(col("n") > 0)

  /** Every sliding L-gram start: (id, s, gh). Docs shorter than L have
    * no grams and cannot participate in a repeat ≥ L. */
  private def slidingGrams(base: DataFrame, l: Int): DataFrame =
    base.filter(col("n") >= l)
      .select(col("id"),
        explode(sequence(lit(0), col("n") - l)).as("s"),
        col("ts"))
      .select(col("id"), col("s"),
        Dedup.md5TokenHash60(
          array_join(slice(col("ts"), col("s") + 1, lit(l)), " ")).as("gh"))

  /** The coverage-union rebuild shared by the batch and incremental
    * forms: merge each doc's sorted repeated starts into covered
    * intervals, take the complement, re-slice the kept runs. */
  private def rebuildScrubbed(base: DataFrame, repStarts: DataFrame,
      l: Int): DataFrame = {
    val L = l
    val emptyIv = array().cast("array<struct<lo:int,hi:int>>")
    base.join(repStarts, Seq("id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      // merge [s, s+L) intervals: starts are sorted and all intervals
      // share length L, so a later start always ends later — the merged
      // hi is simply s + L, no max needed
      .withColumn("cov", aggregate(col("starts"), emptyIv, (acc, s) => {
        val last = element_at(acc, -1)
        val merged = concat(
          slice(acc, lit(1), org.apache.spark.sql.functions.size(acc) - 1),
          array(struct(last.getField("lo").as("lo"), (s + L).cast("int").as("hi"))))
        val appended = concat(acc,
          array(struct(s.cast("int").as("lo"), (s + L).cast("int").as("hi"))))
        when(org.apache.spark.sql.functions.size(acc) > 0 &&
          s <= last.getField("hi"), merged).otherwise(appended)
      }))
      // gap i of m+1: [prev hi (or 0), next lo (or n)) — the kept runs
      .withColumn("keptIv", filter(
        transform(
          sequence(lit(0), org.apache.spark.sql.functions.size(col("cov"))),
          i => struct(
            when(i === 0, lit(0))
              .otherwise(element_at(col("cov"), i).getField("hi")).as("lo"),
            when(i === org.apache.spark.sql.functions.size(col("cov")), col("n"))
              .otherwise(element_at(col("cov"), i + 1).getField("lo")).as("hi"))),
        g => g.getField("hi") > g.getField("lo")))
      .withColumn("ct", flatten(transform(col("keptIv"),
        g => slice(col("ts"), g.getField("lo") + 1,
          g.getField("hi") - g.getField("lo")))))
      .select(col("id"), col("n").as("n_tokens"),
        org.apache.spark.sql.functions.size(col("starts")).cast("long").as("n_repeated"),
        org.apache.spark.sql.functions.size(col("ct")).as("n_tokens_clean"),
        Dedup.md5TokenHash60(array_join(col("ct"), " ")).as("clean_hash"))
  }

  /** Persisted gram-occurrence store for the INCREMENTAL substring
    * scrub: one `(gh, occ)` count relation per epoch under
    * `path/batch=<id>/`, OVERWRITE per epoch so a replay replaces its
    * own output ([[EpochStore]]).
    * Occurrence counts are additive, so epochs UNION correctly — the
    * probe sums per gram across epochs — and [[Compaction]] applies
    * unchanged (row union preserves the sums). Store width is 16 B per
    * distinct gram per epoch; at 100 TB the probe never shuffles it
    * (see [[scrubIncremental]]). */
  def writeGramEpoch(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, path: String, batchId: Long = 0L): Unit =
    EpochStore.write(slidingGrams(tokenized(docs, idCol, textCol), minLen)
      .groupBy(col("gh")).agg(count(lit(1)).as("occ")), path, batchId)

  /** Scrub a NEW batch against corpus-so-far ∪ the batch itself —
    * the incremental form of [[scrubRepeatedSubstrings]], same Lee
    * semantics over the union: a batch doc's token is removed iff some
    * L-gram containing it occurs more than `maxOcc` times across the
    * indexed history PLUS this batch. For the batch docs the verdict
    * is therefore IDENTICAL to re-running the full scrub over
    * history ∪ batch and keeping the batch rows — the oracle-checkable
    * parity `text_substring_scrub_inc` rides on. (Historical docs that
    * a new occurrence retroactively makes repeated are re-scrubbed at
    * the next full rebuild, exactly the [[graft.ops.IvfPq]] frozen-
    * quantizer trade: the incremental path never rewrites history.)
    *
    * Scale shape: the batch's gram counts are small by contract and
    * BROADCAST into the store scan — the store (one 16 B row per
    * distinct corpus gram per epoch) is scanned once, column-pruned,
    * and never shuffled; everything downstream touches batch-sized
    * relations only. Pass `appendBatchId` to also commit this batch's
    * counts as a new epoch (replay-idempotent overwrite). */
  def scrubIncremental(batch: DataFrame, idCol: String, textCol: String,
      minLen: Int, indexPath: String, maxOcc: Long = 1L,
      appendBatchId: Option[Long] = None): DataFrame = {
    require(minLen > 0, "minLen must be positive")
    val base = tokenized(batch, idCol, textCol)
    val grams = slidingGrams(base, minLen)
    val batchCnt = grams.groupBy(col("gh")).agg(count(lit(1)).as("bocc"))
    appendBatchId.foreach { bid =>
      EpochStore.write(batchCnt.select(col("gh"), col("bocc").as("occ")),
        indexPath, bid)
    }
    val spark = batch.sparkSession
    // history counts for exactly the batch's grams: store scan +
    // broadcast hash semi-join, summed per gram (multiple epochs may
    // carry the same gram). Replays exclude their own epoch — the
    // gate's self-rejection lesson applied to counts (a replayed
    // batch's own committed counts would double its occurrences; a
    // replay must pass the SAME appendBatchId, as gateBatch does).
    val history = appendBatchId match {
      case Some(bid) => EpochStore.prior(spark, indexPath, bid)
      case None => EpochStore.read(spark, indexPath)
    }
    val hist = history match {
      case None =>
        batchCnt.select(col("gh"), col("bocc").cast("long").as("hocc")).limit(0)
      case Some(store) => store
        .join(broadcast(batchCnt.select(col("gh"))), Seq("gh"))
        .groupBy(col("gh")).agg(sum(col("occ")).as("hocc"))
    }
    val repeatedGrams = batchCnt.join(hist, Seq("gh"), "left")
      .filter(col("bocc") + coalesce(col("hocc"), lit(0L)) > maxOcc)
      .select(col("gh"))
    val repStarts = grams.join(repeatedGrams, Seq("gh"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("s"))).as("starts"))
    rebuildScrubbed(base, repStarts, minLen)
  }

  /** SPAN-LEVEL decontamination — the surgical variant of
    * [[Curation.decontaminate]]: instead of DROPPING every corpus
    * document that shares an n-gram with the eval set (which discards
    * a 10k-token document over one quoted benchmark sentence), remove
    * exactly the tokens lying inside any shared ≥ `minLen`-gram and
    * keep the rest. Same coverage semantics as
    * [[scrubRepeatedSubstrings]] with "repeated" replaced by "present
    * in the eval set" — a contaminated passage at ANY offset is tiled
    * by shared L-grams, so the coverage union removes precisely the
    * overlapping span(s).
    *
    * Output: `(id, n_tokens, n_contaminated, n_tokens_clean,
    * clean_hash)` — every corpus doc keeps a row (`n_contaminated`
    * = 0 for clean docs); a fully-contaminated doc survives as an
    * empty stream, the caller's policy decides whether to drop it.
    *
    * 100 TB shape: the eval set is fixed-size, so its distinct gram
    * relation broadcasts and the corpus side NEVER shuffles for the
    * membership probe — the only id-keyed exchange carries the (tiny)
    * contaminated starts. */
  def scrubContaminatedSpans(corpus: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchIdCol: String,
      benchTextCol: String, minLen: Int): DataFrame = {
    require(minLen > 0, "minLen must be positive")
    val base = tokenized(corpus, idCol, textCol)
    val grams = slidingGrams(base, minLen)
    val benchGrams = slidingGrams(
      tokenized(bench, benchIdCol, benchTextCol), minLen)
      .select(col("gh")).distinct()
    val repStarts = grams.join(broadcast(benchGrams), Seq("gh"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("s"))).as("starts"))
    rebuildScrubbed(base, repStarts, minLen)
      .withColumnRenamed("n_repeated", "n_contaminated")
  }

  /** One row per (doc, window): `(id, chunk_idx, tok_start, n_tokens,
    * chunk_hash)` with `chunk_hash` the engine-portable md5-60 of the
    * space-rejoined window ([[Dedup.md5TokenHash60]]). */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("ts"))
      .withColumn("n", org.apache.spark.sql.functions.size(col("ts")))
      .filter(col("n") > 0)
      .withColumn("st", explode(sequence(lit(0),
        least(col("n") - 1, greatest(col("n") - (size - stride) - 1, lit(0))),
        lit(stride))))
      .select(col("id"), (col("st") / stride).cast("long").as("chunk_idx"),
        col("st").as("tok_start"),
        slice(col("ts"), col("st") + 1, lit(size)).as("chunk"))
      .select(col("id"), col("chunk_idx"), col("tok_start"),
        org.apache.spark.sql.functions.size(col("chunk")).as("n_tokens"),
        Dedup.md5TokenHash60(array_join(col("chunk"), " ")).as("chunk_hash"))
  }

  /** PARAGRAPH-level deduplication with KEEP-FIRST semantics (the Dolma
    * pipeline's paragraph dedup — Soldaini et al., ACL 2024): drop every
    * later corpus-wide copy of a paragraph but KEEP its first
    * occurrence, then reassemble each document from its surviving
    * paragraphs. The third granularity in the dedup family — document-
    * level ([[Dedup]] exact/near) drops whole docs, substring-level
    * ([[scrubRepeatedSubstrings]], Lee ACL'22) removes ALL copies of a
    * repeated span from every doc; paragraph dedup is the middle
    * ground a web build actually ships (boilerplate paragraphs survive
    * exactly once, the documents around them survive always).
    *
    * "Paragraph" here is a fixed `window`-token block (the harness
    * corpus is flat token text; on corpora with real separators, split
    * on those instead — the downstream keep-first/reassembly machinery
    * is separator-agnostic).
    *
    * Mechanics, all relational: non-overlapping windows → md5-60 key →
    * ONE key-partitioned rank by global (doc id, position) order keeps
    * rank 1 (deterministic first occurrence; the partition a key sees
    * is its own duplication factor, never the corpus) → per-doc
    * reassembly sorts surviving blocks by position. Fully-deduplicated
    * documents remain in the census with n_kept = 0 and empty text.
    *
    * Output: (id, n_chunks, n_kept, kept_text). */
  /** Non-overlapping `window`-token blocks per document: (id, idx,
    * chunk). The chunking half of [[dedupParagraphs]], exposed so the
    * streaming gate ([[graft.streaming.ParagraphGate]]) runs the
    * identical segmentation per micro-batch. */
  private[graft] def paragraphChunks(docs: DataFrame, idCol: String,
      textCol: String, window: Int): DataFrame = {
    require(window > 0, "window must be positive")
    tokenized(docs, idCol, textCol)
      .withColumn("st", explode(sequence(lit(0), col("n") - 1, lit(window))))
      .select(col("id"), (col("st") / window).cast("long").as("idx"),
        array_join(slice(col("ts"), col("st") + 1, lit(window)), " ").as("chunk"))
  }

  /** Reassemble documents from their surviving blocks: census over ALL
    * of a document's chunks, ordered concatenation of the kept ones.
    * Fully-deduplicated documents stay in the census with n_kept = 0
    * and empty text. The reassembly half of [[dedupParagraphs]], shared
    * with the streaming gate. */
  private[graft] def rebuildFromKept(chunks: DataFrame,
      kept: DataFrame): DataFrame = {
    val census = chunks.groupBy("id").agg(count(lit(1)).as("n_chunks"))
    val rebuilt = kept.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          x => x.getField("chunk")), " ").as("kept_text"))
    census.join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = paragraphChunks(docs, idCol, textCol, window)
    val keyed = chunks.withColumn("key", Dedup.md5TokenHash60(col("chunk")))
    val w = Window.partitionBy(col("key")).orderBy(col("id"), col("idx"))
    val kept = keyed.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
    rebuildFromKept(chunks, kept)
  }
}
