package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set similarity over (id, shingle) relations: the one place
  * [[Dedup]]'s near-duplicate operators rank a document's shingles,
  * cut its lossless prefix, join candidates and score a pair.
  *
  * Prefix filtering (the AllPairs/PPJoin family — Chaudhuri et al., "A
  * Primitive Operator for Similarity Joins", ICDE 2006; Xiao et al.,
  * "Efficient Similarity Joins for Near Duplicate Detection", WWW 2008):
  * order all shingles by rarity (document frequency asc, shingle asc —
  * a total order). A set of size `sz` keeps its `sz − ⌈t·sz⌉ + 1`
  * rarest shingles; two sets with J ≥ t share a shingle among both
  * prefixes, and a set A with C(A→B) ≥ t shares one between A's prefix
  * and B. Any fixed total order shared by both sides is lossless, so a
  * probe may rank under an index's frozen frequencies.
  *
  * Verification works on per-document sorted shingle ARRAYS, not an
  * exploded (pair × shingle) join: the explode form shuffles |cands|·sz
  * narrow rows (measured 3·10⁸ rows and 219 s at sf1, where GenScale's
  * ~10-doc near-dup clusters put 6.6M pairs through verification);
  * here each candidate costs one O(sz) native `array_intersect`, and
  * the doc-set relation (one ~sz·8-byte array per doc) joins by id. */
object SetSimilarity {

  /** A set similarity computed from |A∩B| and the two set sizes,
    * output under `name`. */
  final case class Measure(name: String, score: (Column, Column, Column) => Column)

  /** J(A,B) = |A∩B| / |A∪B|. */
  val Jaccard: Measure = Measure("jaccard", (inter, sz1, sz2) =>
    inter.cast("double") / (sz1 + sz2 - inter).cast("double"))

  /** C(A→B) = |A∩B| / |A|. */
  val Containment: Measure = Measure("containment", (inter, sz1, _) =>
    inter.cast("double") / sz1.cast("double"))

  /** (id, set, sz): each document's sorted shingle array and its size. */
  def docSets(sh: DataFrame): DataFrame =
    sh.groupBy("id").agg(sort_array(collect_list(col("shingle"))).as("set"),
      count(lit(1)).as("sz"))

  /** (shingle, freq): the number of documents of `sh` holding each
    * shingle. */
  def frequency(sh: DataFrame): DataFrame =
    sh.groupBy("shingle").agg(count(lit(1)).as("freq"))

  /** (id, shingle, sz, pos): each shingle's rank `pos` within its
    * document under the rarity order (freq, shingle), and the
    * document's set size. `freq` holds every shingle of `sh`. */
  def ranked(sh: DataFrame, freq: DataFrame): DataFrame =
    rank(sh.join(freq, Seq("shingle")))

  /** [[ranked]] under a store's frequencies: a shingle the store does
    * not hold ranks rarest (freq 0). It cannot match the store, so
    * ranking it first only shortens the probe's work. */
  def rankedAgainst(sh: DataFrame, storeFreq: DataFrame): DataFrame =
    rank(sh.join(storeFreq, Seq("shingle"), "left")
      .withColumn("freq", coalesce(col("freq"), lit(0L))))

  // one id-partitioned window pass supplies BOTH the rarity rank and the
  // set size (the partition row count): no sizes aggregation + join on
  // the data-sized relation
  private def rank(withFreq: DataFrame): DataFrame =
    withFreq
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("freq"), col("shingle"))))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("id"))))
      .select(col("id"), col("shingle"), col("sz"), col("pos"))

  /** The rows of a [[ranked]] relation inside their document's prefix:
    * its `sz − ⌈t·sz⌉ + 1` rarest shingles. */
  def prefix(ranked: DataFrame, threshold: Double): DataFrame =
    ranked.filter(col("pos") <= col("sz") - ceil(col("sz") * threshold) + 1)

  /** Candidate pairs (id1 from `a`, id2 from `b`) of rows sharing a
    * shingle and meeting `cond`, which names the two sides `a` and `b`.
    * Every prefix and containment candidate join runs here; rows repeat
    * once per shared shingle. */
  def candidates(a: DataFrame, b: DataFrame, cond: Column): DataFrame =
    a.as("a").join(b.as("b"), col("a.shingle") === col("b.shingle") && cond)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))

  /** PPJoin's lossless filters for J ≥ t on two [[ranked]] prefix rows
    * `a` and `b` sharing a shingle: the size filter
    * min(szA, szB) ≥ t·max(szA, szB), and the positional filter (Xiao
    * et al. §3.2): sharing the shingle at ranks (posA, posB) bounds the
    * overlap by 1 + min(szA − posA, szB − posB), since everything before
    * it in either order is disjoint (else an earlier shared shingle
    * would exist), and J ≥ t needs overlap ≥ t/(1+t)·(szA + szB). */
  def jaccardBound(threshold: Double): Column = {
    val (szA, szB) = (col("a.sz"), col("b.sz"))
    val bestOverlap = lit(1) + least(szA - col("a.pos"), szB - col("b.pos"))
    least(szA, szB) >= lit(threshold) * greatest(szA, szB) &&
      bestOverlap >= lit(threshold / (1.0 + threshold)) * (szA + szB)
  }

  /** The exact score of every distinct candidate pair: (id1, id2,
    * `m.name`, sz1, sz2) for each pair of `cands` (duplicates allowed)
    * scoring ≥ `threshold`, id1's set from `sets1` and id2's from
    * `sets2` ([[docSets]] relations). Two-sided sets keep an id that
    * appears on both sides as two documents. */
  def verify(cands: DataFrame, sets1: DataFrame, sets2: DataFrame,
      m: Measure, threshold: Double): DataFrame =
    cands.select("id1", "id2").distinct()
      .join(sets1.select(col("id").as("id1"), col("set").as("set1"),
        col("sz").as("sz1")), Seq("id1"))
      .join(sets2.select(col("id").as("id2"), col("set").as("set2"),
        col("sz").as("sz2")), Seq("id2"))
      .withColumn("inter", size(array_intersect(col("set1"), col("set2"))))
      .select(col("id1"), col("id2"),
        m.score(col("inter"), col("sz1"), col("sz2")).as(m.name),
        col("sz1"), col("sz2"))
      .filter(col(m.name) >= threshold)

  /** [[verify]] of pairs within one shingle relation `sh`, its doc sets
    * broadcast when small ([[maybeBroadcastDocSets]]): the batch joins'
    * form. */
  def verifyWithin(cands: DataFrame, sh: DataFrame, m: Measure,
      threshold: Double): DataFrame = {
    val sets = maybeBroadcastDocSets(sh, docSets(sh))
    verify(cands, sets, sets, m, threshold)
  }

  /** Cutover for the doc-set broadcast: below this estimated size the
    * per-doc sorted shingle arrays ride a broadcast hint (the candidate
    * relation never shuffles — the right gate-scale plan); above it the
    * hint is DROPPED and the verify is a plain id-keyed join (explicit
    * hints are honored unconditionally up to the 8 GB hard limit, so an
    * unconditional hint is a scale-killer at 100 TB; AQE may still
    * choose broadcast if the runtime stats allow it). 256 MB keeps every
    * bench corpus on the broadcast plan while cutting over ~30× before
    * the hard limit. */
  private val DocSetBroadcastMaxBytes: Long = 256L << 20

  /** `sets` with a broadcast hint iff its estimated broadcast size (8 B
    * per shingle hash + ~16 B per-doc row overhead, read as two scalars
    * off the persisted shingle relation `sh`) fits `maxBytes`. Results
    * are plan-independent. */
  private[ops] def maybeBroadcastDocSets(sh: DataFrame, sets: DataFrame,
      maxBytes: Long = DocSetBroadcastMaxBytes): DataFrame = {
    val st = sh.agg(count(lit(1)).as("n_sh"),
      count_distinct(col("id")).as("n_docs")).head()
    val estBytes = 8L * st.getLong(0) + 16L * st.getLong(1)
    if (estBytes <= maxBytes) broadcast(sets) else sets
  }
}
