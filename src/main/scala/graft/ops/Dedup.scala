package graft.ops

import graft.{EpochStore, Materialize}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact (hash groupBy), n-gram Jaccard (exact
  * similarity join), MinHash+LSH (the 100 TB near-dup path), SimHash.
  *
  * Scale design: exact dedup is one shuffle on a 16-byte digest (never
  * on the document text). The LSH path shuffles only (doc_id, band,
  * bucket) tuples — signature size × docs, independent of document
  * length — and candidate verification touches only bucket-colliding
  * pairs, so cost tracks the number of true near-dups rather than n².
  * The exact Jaccard join is the small-scale oracle used to validate LSH
  * recall (SURVEY.md §7.4.5).
  */
object Dedup {

  /** Exact dedup: canonical digest → keep the lowest-id doc per digest.
    * Digest, not raw text, is the shuffle key (100 TB: 16 bytes/row). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping one row per distinct text (first by id). */
  def dropExactDups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Distinct word n-gram shingles per document: (id, shingle) rows.
    *
    * Formulated as `arrays_zip` of n shifted slices rather than
    * `transform(sequence(...), i -> element_at(toks, i+j))`: the zip
    * walks each token array once with positional struct access, where
    * the sequence form pays n interpreted random `element_at` probes per
    * gram (measured 10× slower at sf0.1). The LSH pipeline avoids the
    * strings entirely — see [[shingleHashes]].
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val toks = split(col(textCol), "\\s+")
    val gramCount = greatest(size(toks) - (n - 1), lit(0))
    val slices = (0 until n).map(j => slice(toks, lit(j + 1), gramCount))
    val grams = transform(arrays_zip(slices: _*),
      s => concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*))
    // Documents shorter than n tokens contribute their whole text as the
    // single shingle, so they can still match exact copies of themselves.
    val safeGrams = when(size(toks) >= n, grams).otherwise(array(col(textCol)))
    df.select(col(idCol).as("id"), explode(array_distinct(safeGrams)).as("shingle"))
  }

  /** Distinct word n-gram shingle *hashes* per document: (id, shingle:
    * long) rows via the codegen'd [[graft.functions.NGramHashesExpr]].
    * Hash values are byte-identical to `xxhash64(shingle-string)`, so
    * MinHash signatures built from this relation equal the string path's
    * exactly; Jaccard over hash sets equals Jaccard over string sets
    * modulo 64-bit collisions (~n²/2⁶⁴). This is the 100 TB relation:
    * the dedup shuffle carries 8-byte keys regardless of document size.
    */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.functions.ngram_hashes(col(textCol), n)).as("shingle"))

  /** Exact n-gram Jaccard similarity join: all pairs sharing ≥1 shingle,
    * scored |A∩B| / |A∪B|. This is the brute-force oracle; its shuffle
    * is bounded by shingle-frequency (skewy common shingles should be
    * frequency-capped at true scale — see `maxShingleFreq`).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      maxShingleFreq: Int = 1000): DataFrame = {
    // The shingle relation feeds four consumers (sizes, frequency cap,
    // both self-join sides): cache it for the computation and checkpoint
    // the (small) result.
    Materialize.cached(shingles(df, idCol, textCol, n)) { sh =>
      val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
      // Frequency cap: a shingle occurring in k docs contributes k² join
      // rows; capping drops only stop-shingles that carry no dedup signal.
      val rare = sh.groupBy("shingle").agg(count(lit(1)).as("freq"))
        .filter(col("freq") <= maxShingleFreq)
      val shCapped = sh.join(rare.select("shingle"), Seq("shingle"))
      val inter = shCapped.as("a").join(shCapped.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
        .agg(count(lit(1)).as("inter"))
      Materialize(inter
        .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "sz1"), Seq("id1"))
        .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "sz2"), Seq("id2"))
        .select(col("id1"), col("id2"),
          (col("inter").cast("double") /
            (col("sz1") + col("sz2") - col("inter")).cast("double")).as("jaccard")))
    }
  }

  /** Deterministic MinHash parameters (large prime; a/b from a fixed
    * linear congruence so results are reproducible across runs/clusters). */
  private val MinhashPrime = 2147483647L // 2^31 - 1
  private def hashCoefs(numHashes: Int): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(42)
    val a = Seq.fill(numHashes)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val b = Seq.fill(numHashes)(rnd.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  /** The seed-42 permutation coefficients and modulus, exposed so an
    * independent oracle can embed them as literals and replay the
    * portable signature path ([[minhashSignaturesPortable]]). */
  private[graft] def minhashCoefs(numHashes: Int): (Seq[Long], Seq[Long]) =
    hashCoefs(numHashes)
  private[graft] val minhashPrime: Long = MinhashPrime

  /** MinHash signatures: for each doc, sig[i] = min over shingles of
    * (a_i·h(shingle)+b_i mod p).
    *
    * Implementation shape matters at scale: one exploded (id, hash) row
    * per shingle, then `numHashes` flat `min(...)` aggregates — all
    * whole-stage codegen'd with map-side partial aggregation, so the
    * shuffle carries one 64-long row per document. (A higher-order
    * `aggregate` over collected arrays is 30× slower: HOF lambdas are
    * interpreted, and collect_list shuffles every shingle hash.)
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, n: Int = 3): DataFrame =
    minhashSignaturesFromShingles(shingles(df, idCol, textCol, n), numHashes)

  /** Signature computation over a prebuilt (id, shingle) relation — lets
    * the LSH pipeline share one persisted shingle table across the
    * signature, banding and verification stages. */
  def minhashSignaturesFromShingles(sh: DataFrame, numHashes: Int = 64): DataFrame =
    signaturesFromBaseHash(
      sh.select(col("id"), xxhash64(col("shingle")).as("h64")), numHashes)

  /** Signatures over a prebuilt (id, shingle: long) *hash* relation (from
    * [[shingleHashes]]) — identical output to the string path because the
    * hash values are identical. */
  def minhashSignaturesFromHashes(shh: DataFrame, numHashes: Int = 64): DataFrame =
    signaturesFromBaseHash(shh.select(col("id"), col("shingle").as("h64")), numHashes)

  private def signaturesFromBaseHash(withH64: DataFrame, numHashes: Int): DataFrame = {
    val (a, b) = hashCoefs(numHashes)
    // xxhash64 → non-negative base hash; a_i,h < 2^31 so a_i*h fits a long
    val withH = withH64.select(col("id"), pmod(col("h64"), lit(MinhashPrime)).as("h"))
    val aggs = (0 until numHashes).map(i =>
      min(pmod(lit(a(i)) * col("h") + lit(b(i)), lit(MinhashPrime))).as(s"m$i"))
    withH.groupBy("id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Engine-portable MinHash signatures: the [[md5TokenHash60]] trade
    * applied to the whole signature pipeline (md5-60 of the shingle
    * STRING as the base hash instead of xxhash64), so an independent
    * engine can recompute sig[i] exactly from the embedded seed-42
    * coefficients. Same aggregation shape as [[minhashSignatures]] —
    * the two differ only in the base hash. */
  def minhashSignaturesPortable(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 64, n: Int = 3): DataFrame =
    signaturesFromBaseHash(
      shingles(df, idCol, textCol, n)
        .select(col("id"), md5TokenHash60(col("shingle")).as("h64")),
      numHashes)

  /** The MinHash ESTIMATOR-error relation — "measure, don't guess"
    * pointed at the dedup family's own approximation: for every exact
    * near-dup pair (J ≥ `threshold`, lossless prefix-filtered join),
    * the signature-agreement estimate ĵ = |{i : sig1[i] = sig2[i]}| /
    * numHashes next to the exact Jaccard. E[ĵ] = J (each permutation's
    * min agrees with probability J), Var = J(1−J)/numHashes — the
    * audit says how far THIS corpus sits from that bound, per pair,
    * before anyone trusts banded candidates downstream. Pair-bounded:
    * signatures join only onto the verified pair relation, so the HOF
    * agreement fold runs on |pairs| rows, never the corpus. */
  def minhashEstimates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, n: Int = 3): DataFrame = {
    val pairs = Materialize(prefixJaccardJoin(df, idCol, textCol, threshold, n)
      .select(col("id1"), col("id2"), col("jaccard")))
    // signatures only for pair PARTICIPANTS (duplicate-relation-sized,
    // the newVsCorpusPairs candIds stance) — the audit never pays a
    // corpus-wide 64-aggregate signature pass for docs no pair needs
    val ids = pairs.select(col("id1").as(idCol))
      .union(pairs.select(col("id2").as(idCol))).distinct()
    val sigs = minhashSignaturesPortable(
      df.join(broadcast(ids), Seq(idCol), "left_semi"),
      idCol, textCol, numHashes, n)
    val agree = aggregate(
      zip_with(col("sig1"), col("sig2"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    pairs
      .join(sigs.toDF("id1", "sig1"), Seq("id1"))
      .join(sigs.toDF("id2", "sig2"), Seq("id2"))
      .select(col("id1"), col("id2"), col("jaccard"),
        (agree.cast("double") / numHashes).as("est"))
  }

  /** MinHash + LSH banding: signatures are cut into `bands` bands of
    * rows; docs colliding in any band become candidate pairs; candidates
    * are verified with exact Jaccard of their shingle sets ≥ `threshold`.
    * Only bucket-colliding ids are ever joined — this is the 100 TB
    * near-dup path.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, n: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    // bands <= 0 → the lshParamsFor S-curve auto-solve at (threshold,
    // numHashes); explicit configs are untouched
    val bandsN = if (bands > 0) bands else lshParamsFor(threshold, numHashes)._1
    require(numHashes % bandsN == 0, "bands must divide numHashes")
    val rows = numHashes / bandsN
    // Stage-count is the cost driver here (the signature math itself is
    // ~1s warm at sf0.1): the whole LSH DAG is three jobs —
    //   1. shingle hashes (persisted; reused by signatures, banding and
    //      the doc sets),
    //   2. ONE aggregation that emits signatures AND band buckets: the
    //      per-band bucket is a hash of that band's `rows` minima
    //      projected straight out of the 64-min groupBy, so banding is a
    //      projection, not a second pass over signatures,
    //   3. the banding self-join and the doc-set verification.
    // A pair colliding in k of `bands` bands appears k times; the
    // verifier scores each distinct pair once (on a duplicate-cluster-
    // heavy corpus near-dup pairs collide in nearly ALL bands, so the
    // distinct divides the verify input by up to `bands` — SCALING.md).
    // Shingles are carried as 64-bit hashes (codegen'd NGramHashesExpr),
    // never strings: the dedup shuffles move fixed-width longs no matter
    // how large documents are. The shingles and the band relation (both
    // self-join sides) are cached for the computation and the small
    // verified-pairs result is checkpointed — at warehouse scale these
    // would be written shingle/signature tables.
    Materialize.cached(shingleHashes(df, idCol, textCol, n)) { sh =>
    Materialize.cached(bandedBuckets(sh, numHashes, bandsN)) { banded =>
      val cands = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("id1"), col("y.id").as("id2"))
      val sets = SetSimilarity.docSets(sh)
      Materialize(SetSimilarity.verify(cands, sets, sets, SetSimilarity.Jaccard, threshold)
        .select("id1", "id2", "jaccard"))
    }}
  }

  /** Fused signature+banding aggregation: ONE groupBy emits the
    * `numHashes` per-hash minima and projects the per-band bucket (a
    * hash of that band's minima) straight out of the aggregate — banding
    * costs a projection, not a second pass over a signature relation.
    * Output: (id, band, bucket) — `bands` fixed-width rows per doc.
    */
  def bandedBuckets(sh: DataFrame, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val (a, b) = hashCoefs(numHashes)
    val withH = sh.select(col("id"), pmod(col("shingle"), lit(MinhashPrime)).as("h"))
    val aggs = (0 until numHashes).map(i =>
      min(pmod(lit(a(i)) * col("h") + lit(b(i)), lit(MinhashPrime))).as(s"m$i"))
    val buckets = (0 until bands).map(bd =>
      xxhash64((lit(bd) +: (bd * rows until (bd + 1) * rows).map(i => col(s"m$i"))): _*))
    withH.groupBy("id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), posexplode(array(buckets: _*)))
      .toDF("id", "band", "bucket")
  }

  /** SimHash signatures as a DataFrame op — the scale path: exploded
    * distinct tokens, `bits` flat codegen'd `sum` aggregates (one per
    * bit), map-side combined; shuffle carries `bits` longs per doc.
    * Produces identical values to [[simhash]] for the default
    * xxhash64/64-bit configuration (asserted in DedupSpec).
    *
    * `tokenHash` is pluggable so the algorithm can run over any 64-bit
    * token hash; [[md5TokenHash60]] provides an engine-portable variant
    * (the oracle-gated `dedup_simhash` query uses it, letting DuckDB
    * recompute the exact signatures).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxhash64(_), bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
    val toks = df.select(col(idCol).as("id"),
      explode(array_distinct(split(col(textCol), "\\s+"))).as("tok"))
      .select(col("id"), tokenHash(col("tok")).as("h"))
    val aggs = (0 until bits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"c$j"))
    val counted = toks.groupBy("id").agg(aggs.head, aggs.tail: _*)
    val sig = (0 until bits).foldLeft(lit(0L)) { (acc, j) =>
      acc.bitwiseOR(shiftleft(when(col(s"c$j") > 0, lit(1L)).otherwise(lit(0L)), j))
    }
    counted.select(col("id"), sig.as("sig"))
  }

  /** Engine-portable 60-bit token hash: the first 15 hex digits of
    * md5(token) as an integer. Unlike xxhash64 this is reproducible in
    * any engine with md5 (DuckDB, Trino, Postgres), which is what makes
    * the simhash pipeline oracle-checkable end-to-end; 60 bits keep the
    * value inside a signed long. Computed by the codegen'd
    * [[graft.functions.Md5Hash60Expr]] (digest bytes directly — the
    * equivalent `conv(substring(md5(tok),1,15),16,10)` builtin chain
    * spends most of its time materializing and re-parsing hex strings).
    */
  def md5TokenHash60(tok: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.functions.Md5Hash60Expr(bridge.expression(tok)))
  }

  /** 64-bit SimHash over word tokens as a single Column expression: bit
    * j of the signature is the sign of Σ_tokens (±1 depending on bit j
    * of xxhash64(token)). Near-dups have small Hamming distance.
    * Convenient for inline use; for corpus-scale signature computation
    * prefer [[simhashSignatures]] (HOF lambdas are interpreted, flat
    * aggregates are codegen'd).
    */
  def simhash(text: Column): Column = {
    val toks = array_distinct(split(text, "\\s+"))
    val hashes = transform(toks, t => xxhash64(t))
    // One pass over the tokens accumulating all 64 per-bit ±1 counters
    // (bit positions are static Scala ints, so shifts stay codegen'd).
    val counters = aggregate(hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        array((0 until 64).map(j =>
          when(shiftright(h, j).bitwiseAND(1L) === 1L, lit(1L)).otherwise(lit(-1L))): _*),
        (a, b) => a + b))
    (0 until 64).foldLeft(lit(0L)) { (sig, j) =>
      sig.bitwiseOR(shiftleft(
        when(element_at(counters, j + 1) > 0, lit(1L)).otherwise(lit(0L)), j))
    }
  }

  /** Near-duplicate CLUSTERS via MinHash banding + connected components
    * — the linear-output dedup a corpus-scale pipeline actually runs.
    * [[minhashLshPairs]] emits verified PAIRS, which is inherently
    * O(cluster²): a 1M-replica document cluster at 100 TB would emit
    * 5·10¹¹ pairs no matter how well the join is organized. Production
    * dedup instead emits one representative per cluster:
    *
    *   1. banded buckets as in [[minhashLshPairs]] (same shuffles);
    *   2. STAR edges only — every bucket member links to its bucket's
    *      min id. Linear in bucket occupancy, never pairwise, so a
    *      giant duplicate cluster costs O(cluster), not O(cluster²);
    *   3. connected components over the star graph, size-dispatched
    *      ([[componentsFromStar]]): verified-edge graphs under the
    *      local threshold collect to the driver for union-find (the
    *      graph is duplicate structure, not corpus rows); larger
    *      graphs run iterated min-label propagation with pointer
    *      jumping (O(log diameter) rounds, state localCheckpointed).
    *
    * Star edges are VERIFIED by exact Jaccard (≥ `threshold`) before
    * propagation — still linear, since star edges are linear. Without
    * this, aggressive banding over-merges: at bands=32/rows=2 a
    * moderate-similarity pair (j ≈ 0.3) collides with ~95% probability,
    * and transitive chains of chance collisions collapse unrelated
    * clusters (measured on the sf1 corpus: 2,673 unverified components
    * vs 4,756 verified — see SCALING.md).
    *
    * Returns (id, component) with component = the min id reachable
    * through verified shared-bucket edges.
    */
  /** S-curve banding solve — the knob a user reaches for first when
    * the corpus's duplicate profile shifts: given a target similarity
    * threshold `t` and a signature budget of `nHashes`, pick the
    * (bands, rowsPerBand) factorization whose detection curve
    * `P(candidate | sim = s) = 1 − (1 − s^r)^b` best separates at `t`,
    * by minimizing the weighted sum of the two error masses
    * (`fpWeight · ∫₀ᵗ P(cand|s) ds + fnWeight · ∫ᵗ¹ (1 − P(cand|s)) ds`
    * — midpoint rule, 1000 steps; the standard LSH-forest/datasketch
    * tuning objective). Only divisor pairs are considered (the banding
    * requires bands × rows = nHashes exactly); ties break to fewer
    * bands (cheaper candidate stage). The solve is generic in what
    * "one hash agrees" means: s is Jaccard for MinHash rows and
    * 1 − θ/π per hyperplane bit for the cosine family, so the same
    * function tunes (tables, bitsPerTable) there.
    *
    * Deterministic, driver-side, O(d(nHashes) · steps) — a config
    * computation, not a job. */
  def lshParamsFor(threshold: Double, nHashes: Int,
      fpWeight: Double = 0.5, fnWeight: Double = 0.5): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(nHashes >= 1, s"nHashes must be positive, got $nHashes")
    require(fpWeight >= 0 && fnWeight >= 0 && fpWeight + fnWeight > 0,
      "error-mass weights must be non-negative and not both zero")
    val steps = 1000
    def detect(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    def cost(b: Int, r: Int): Double = {
      val dxF = threshold / steps
      val fp = (0 until steps).foldLeft(0.0)((a, i) =>
        a + detect((i + 0.5) * dxF, b, r) * dxF)
      val dxN = (1.0 - threshold) / steps
      val fn = (0 until steps).foldLeft(0.0)((a, i) =>
        a + (1.0 - detect(threshold + (i + 0.5) * dxN, b, r)) * dxN)
      fpWeight * fp + fnWeight * fn
    }
    (1 to nHashes).filter(nHashes % _ == 0).map(b => (b, nHashes / b))
      .minBy { case (b, r) => (cost(b, r), b) }
  }

  /** `bands <= 0` requests the [[lshParamsFor]] auto-solve at
    * (`threshold`, `numHashes`) — explicit configs (every existing
    * oracle) are byte-unchanged. */
  def minhashLshComponents(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, n: Int = 3,
      threshold: Double = 0.5, maxIters: Int = 10): DataFrame = {
    val b = if (bands > 0) bands else lshParamsFor(threshold, numHashes)._1
    Materialize.cached(shingleHashes(df, idCol, textCol, n)) { sh =>
      val sets = SetSimilarity.docSets(sh)
      val verified = SetSimilarity.verify(
          starEdges(bandedBuckets(sh, numHashes, b)).toDF("id1", "id2"),
          sets, sets, SetSimilarity.Jaccard, threshold)
        .select(col("id1").as("id"), col("id2").as("root"))
      componentsFromStar(df.select(col(idCol).as("id")).distinct(),
        verified, maxIters)
    }
  }

  /** Edge count under which [[componentsFromStar]] resolves components
    * with driver union-find instead of distributed label rounds: 4M
    * edges ≈ 64 MB collected — far under driver headroom, far over any
    * graph where distributed-round fixed costs could possibly win. */
  val ComponentsLocalEdgeThreshold: Long = 4L << 20

  /** Star edges of a banded-bucket relation: every (band, bucket) member
    * links to the bucket's min id — linear in occupancy, never pairwise. */
  def starEdges(banded: DataFrame): DataFrame = {
    val mins = banded.groupBy("band", "bucket").agg(min(col("id")).as("root"))
    banded.join(mins, Seq("band", "bucket"))
      .filter(col("id") =!= col("root"))
      .select(col("id"), col("root")).distinct()
  }

  /** Connected components over a star-edge relation, size-dispatched:
    * graphs under `localEdgeThreshold` edges resolve with driver
    * union-find (one collect of the EDGES — never corpus rows — one
    * broadcast join back); larger graphs run iterated min-label
    * propagation WITH pointer jumping (driver loop; three shuffles per
    * iteration; state localCheckpointed so lineage stays flat;
    * convergence detected by the strictly-decreasing label sum). The
    * edge-propagation step alone moves a label ONE hop per iteration —
    * linear in component diameter, and transitive bucket chains grow
    * diameter with cluster size (found the hard way: a 128-member
    * cluster at sf0.001 has diameter > 10, so a propagate-only loop
    * capped at 10 iterations left the cluster split one merge short of
    * DuckDB's recursive-CTE fixpoint). The compression step
    * (`label ← label(label)`) halves remaining path lengths each round,
    * restoring genuine O(log diameter) convergence — the property a
    * billion-row component graph needs. Both branches produce the
    * identical labeling (min reachable id), pinned in DedupSpec. */
  def componentsFromStar(ids: DataFrame, star: DataFrame,
      maxIters: Int = 10,
      localEdgeThreshold: Long = ComponentsLocalEdgeThreshold): DataFrame = {
    Materialize.cached(star) { st =>
      // Size-aware dispatch — the thing that makes small-graph latency
      // AND 100 TB scale both work. The component GRAPH (verified
      // near-dup edges) is bounded by duplicate structure, orders of
      // magnitude smaller than the corpus; when it fits on the driver
      // (threshold 4M edges ≈ 64 MB), union-find resolves it in one
      // collect + one broadcast join instead of O(log diameter)
      // distributed rounds that are pure fixed job overhead at this
      // size (measured: 4.5 s of a 5.6 s cluster-dedup run at sf0.1 was
      // the loop over a 1,649-edge graph; the local path runs it in
      // ~0.2 s). A duplicate-heavy 100 TB corpus with billions of
      // edges takes the distributed branch — same labels either way
      // (DedupSpec pins both paths equal on deep chain graphs; the
      // dedup_cluster oracle hash-checks whichever branch runs).
      // Only edges are ever collected — never ids/corpus rows.
      val edgeCount = st.count()
      if (edgeCount <= localEdgeThreshold) {
        val parent = new java.util.HashMap[Long, Long](edgeCount.toInt * 2)
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          // path compression
          var c = x
          while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
          r
        }
        st.select(col("id").cast("long"), col("root").cast("long"))
          .collect().foreach { row =>
            val a = find(row.getLong(0)); val b = find(row.getLong(1))
            // min id becomes the representative (the labeling contract)
            if (a < b) parent.put(b, a) else if (b < a) parent.put(a, b)
          }
        val resolved = parent.keySet().iterator()
        val compMap = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        while (resolved.hasNext) { val k = resolved.next(); compMap += ((k, find(k))) }
        val spark = ids.sparkSession
        import spark.implicits._
        val comps = compMap.toSeq.toDF("id", "component")
        ids.join(broadcast(comps), Seq("id"), "left")
          .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      } else {
        // Both edge directions from one pass — a union of `st` with its
        // own swapped projection trips Catalyst's union constraint
        // rewrite on some input lineages (self-union attribute aliasing).
        val edges = st.select(explode(array(
            struct(col("id").cast("long").as("id"), col("root").cast("long").as("root")),
            struct(col("root").cast("long").as("id"), col("id").cast("long").as("root"))))
            .as("e"))
          .select(col("e.id").as("id"), col("e.root").as("root"))
        var labels = Materialize(ids.withColumn("label", col("id")))
        // Convergence detection: labels are node ids with the invariant
        // label(x) <= x, and every step takes a min — so per-id labels are
        // monotonically non-increasing and the label SUM is strictly
        // decreasing iff anything changed. Comparing exact sums (decimal —
        // id magnitudes are unconstrained) costs one tiny aggregation over
        // the just-checkpointed relation, instead of the join-with-previous
        // + filter + count job the first version ran each iteration.
        def labelSum(df: DataFrame): java.math.BigDecimal =
          df.agg(sum(col("label").cast("decimal(38,0)"))).first().getDecimal(0)
        var prevSum = labelSum(labels)
        var converged = false
        var iter = 0
        while (!converged && iter < maxIters) {
          // min over neighbors' labels, then least() with the node's own —
          // deliberately NOT formulated as `labels UNION viaEdges` →
          // groupBy: both union children would share the `labels`
          // attributes, which Catalyst's union constraint rewrite rejects
          // on some lineages (key-not-found during rewriteConstraints).
          val nbrMin = edges.join(labels, edges("root") === labels("id"))
            .select(edges("id").as("id"), col("label"))
            .groupBy("id").agg(min(col("label")).as("_nlabel"))
          val relabeled = labels
            .join(nbrMin.withColumnRenamed("id", "_nid"),
              col("id") === col("_nid"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("_nlabel"), col("label"))).as("label"))
          // pointer jumping: follow the label's own label (labels are ids
          // of the same node set, so the self-join always resolves; label
          // values only ever decrease, so label(label(id)) <= label(id))
          val next = Materialize(relabeled.as("a")
            .join(relabeled.select(col("id").as("_lid"), col("label").as("_llabel")),
              col("a.label") === col("_lid"))
            .select(col("a.id").as("id"), col("_llabel").as("label")))
          val newSum = labelSum(next)
          Materialize.release(labels)
          labels = next
          converged = newSum.compareTo(prevSum) == 0
          prevSum = newSum
          iter += 1
        }
        labels.select(col("id"), col("label").as("component"))
      }
    }
  }

  /** SimHash cluster dedup: the [[minhashLshComponents]] shape over
    * 16-bit simhash bands, with star edges VERIFIED by exact Hamming
    * distance over the full 64-bit signatures (cheap — signatures ride
    * the star join). Members connect through shared-band roots within
    * `maxDist`; transitive chains merge, which is the cluster semantics
    * (a pairwise `simhashPairs` would emit O(cluster²)). */
  def simhashComponents(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxIters: Int = 10,
      tokenHash: Column => Column = xxhash64(_), bits: Int = 64,
      bands: Int = 4): DataFrame = {
    require(bits % bands == 0, s"bits $bits not divisible by $bands bands")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    Materialize.cached(simhashSignatures(df, idCol, textCol, tokenHash, bits)) { sigs =>
      val banded = sigs.select(col("id"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("sig"), b * bandBits).bitwiseAND(mask)): _*)))
        .toDF("id", "band", "bucket")
      val verified = starEdges(banded)
        .join(sigs.toDF("id", "sigA"), Seq("id"))
        .join(sigs.toDF("root", "sigB"), Seq("root"))
        .filter(hamming(col("sigA"), col("sigB")) <= maxDist)
        .select(col("id"), col("root"))
      componentsFromStar(df.select(col(idCol).as("id")).distinct(),
        verified, maxIters)
    }
  }

  /** The corpus band index for INCREMENTAL ingestion dedup: (id, band,
    * bucket), one fixed-width row per document per band. Built once
    * over the accumulated corpus and persisted (parquet, partitionable
    * by band); each accepted batch appends its own rows. At 100 TB this
    * is the difference between hashing the whole corpus nightly and
    * hashing only the day's arrivals. */
  def bandIndex(corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, n: Int = 3): DataFrame =
    bandedBuckets(shingleHashes(corpus, idCol, textCol, n), numHashes, bands)

  /** Probe a NEW batch against a prebuilt [[bandIndex]]: verified
    * near-dup pairs (id1 = existing corpus doc, id2 = new doc,
    * jaccard ≥ threshold). The incremental cost profile is the point:
    *   - only the NEW docs are shingled and signed (one scan of the
    *     batch, never the corpus);
    *   - the index probe is an equi-join on (band, bucket) — the new
    *     side is batch-sized, and at warehouse scale the index side
    *     prunes to the probed buckets;
    *   - the corpus text is re-read ONLY for verification and ONLY for
    *     candidate ids: the tiny candidate-id set broadcasts into a
    *     semi-join, so corpus shingling touches |candidates| docs,
    *     not the corpus.
    * A doc id present on BOTH sides is safe: each side's doc sets come
    * from its own shingle relation, so the two stay distinct documents
    * — a corpus doc and a new doc that share an id and identical text
    * score a true 1.0 (the new doc IS a duplicate of the stored one),
    * never a merged-shingle-set artifact. Callers that re-deliver the
    * SAME stored doc (streaming epoch replay) must still exclude its
    * own copy upstream or it will legitimately match itself — see
    * [[graft.streaming.IngestGate]]'s batch-partition exclusion.
    * Candidate recall equals the batch variant's ([[minhashLshPairs]])
    * — identical signature math, bucket collision across the split
    * instead of within it; DedupSpec pins cross-split agreement. */
  def newVsCorpusPairs(corpus: DataFrame, index: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    Materialize.cached(shingleHashes(newDocs, idCol, textCol, n)) { newSh =>
    Materialize.cached(index.toDF("cid", "band", "bucket")
      .join(bandedBuckets(newSh, numHashes, bands).toDF("nid", "band", "bucket"),
        Seq("band", "bucket"))
      .select(col("cid").as("id1"), col("nid").as("id2")).distinct()) { cands =>
      val candIds = cands.select(col("id1").as(idCol)).distinct()
      val corpusSh = shingleHashes(
        corpus.join(broadcast(candIds), Seq(idCol), "left_semi"),
        idCol, textCol, n)
      Materialize(SetSimilarity.verify(cands, SetSimilarity.docSets(corpusSh),
          SetSimilarity.docSets(newSh), SetSimilarity.Jaccard, threshold)
        .select("id1", "id2", "jaccard"))
    }}
  }

  /** Keep one representative (the component's min id) per near-dup
    * cluster: the deduplicated corpus, linear in input size. */
  def dedupByMinhash(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val comps = minhashLshComponents(df, idCol, textCol, numHashes, bands, n, threshold)
    df.join(comps.filter(col("id") === col("component"))
        .select(col("id").as(idCol + "_keep")),
      col(idCol) === col(idCol + "_keep"))
      .drop(idCol + "_keep")
  }

  /** [[dedupByMinhash]]'s SimHash twin: one representative (component
    * min id) per near-dup cluster from [[simhashComponents]]. With the
    * portable md5 token hash ([[md5TokenHash60]]) the whole composition
    * is DuckDB-replayable — how `corpus_curation_neardup` hash-gates
    * the production curate→cluster-dedup chain end-to-end. */
  def dedupBySimhash(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, tokenHash: Column => Column = xxhash64(_),
      bits: Int = 64, bands: Int = 4): DataFrame = {
    val comps = simhashComponents(df, idCol, textCol, maxDist,
      tokenHash = tokenHash, bits = bits, bands = bands)
    df.join(comps.filter(col("id") === col("component"))
        .select(col("id").as(idCol + "_keep")),
      col(idCol) === col(idCol + "_keep"))
      .drop(idCol + "_keep")
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block by 16-bit sub-bands (a dup within
    * Hamming distance 3 of a 64-bit signature must agree exactly on at
    * least one of 4 bands — pigeonhole), then verify Hamming ≤ maxDist.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    // Signatures feed both sides of the banding self-join — cache them
    // once and checkpoint the (small) pair set, same shape as the
    // MinHash-LSH pipeline.
    Materialize.cached(simhashSignatures(df, idCol, textCol)) { sigs =>
      val banded = sigs.select(col("id"), col("sig"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sig"), b * 16).bitwiseAND(0xffffL)): _*)))
        .toDF("id", "sig", "band", "bucket")
      Materialize(banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("id1"), col("y.id").as("id2"),
          hamming(col("x.sig"), col("y.sig")).as("dist"))
        .distinct()
        .filter(col("dist") <= maxDist))
    }
  }

  /** SemDeDup-style semantic drop list (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): a coarse quantizer — ANY centroid matrix; the
    * production path trains one with [[IvfIndex.train]] — partitions
    * the corpus into cells by max-cosine ([[IvfIndex.bestCell]]), and
    * the quadratic near-dup search runs only WITHIN a cell. A doc is
    * dropped when any smaller-id cell-mate has cosine ≥ `threshold`;
    * the smallest such mate is kept as its `exemplar_id` (with the
    * cosine against that exemplar via `min_by`, no second join).
    *
    * Scale: the pair space is Σ|cell|², bounded by sizing k so N/k
    * stays small (FAISS-style k ≈ √N makes the whole search ~N^1.5/k
    * ≈ N per-cell work). The cluster assignment is a codegen'd
    * scan-side expression (no shuffle of its own); the self-join
    * hashes both scan branches on the cell id (AQE broadcasts the
    * build side at small scales instead), and the exemplar
    * aggregation's (cell, id) exchange carries only map-side-reduced
    * drop candidates — the quadratic comparison itself never crosses
    * the wire. Cross-cell near-dups are missed by design; that is the
    * SemDeDup trade (embedding near-dups concentrate inside k-means
    * cells). Returns (cell, dropped_id, exemplar_id, cos).
    */
  def semanticDropList(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double): DataFrame = {
    val base = df.select(
      IvfIndex.bestCell(col(vecCol), centroids).as("cell"),
      col(idCol).as("id"), col(vecCol).as("vec"))
    base.toDF("cell", "id1", "v1")
      .join(base.toDF("cell", "id2", "v2"), Seq("cell"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", Similarity.cosine(col("v1"), col("v2")))
      .filter(col("cos") >= threshold)
      .groupBy(col("cell"), col("id2").as("dropped_id"))
      .agg(min(col("id1")).as("exemplar_id"),
        min_by(col("cos"), col("id1")).as("cos"))
  }

  /** Survivors of [[semanticDropList]]: the input minus every dropped
    * id (one anti-join on the id — the drop list is tiny relative to
    * the corpus, broadcast-eligible). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double): DataFrame =
    df.join(
      semanticDropList(df, idCol, vecCol, centroids, threshold)
        .select(col("dropped_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** INCREMENTAL SemDeDup: probe a NEW batch against a cell-partitioned
    * corpus index written by [[IvfIndex.writeIndexed]] ((id, vec) rows
    * under a `cell=` partition). Only the batch is quantized — the
    * corpus is never re-scored — and the batch's distinct cell ids
    * (≤ min(|batch|, k), collected by contract) push as a literal
    * partition filter, so the corpus scan reads ONLY the probed cells'
    * directories. At 100 TB this is the same economics as
    * [[newVsCorpusPairs]]: nightly cost tracks the day's arrivals
    * times cell occupancy, not the corpus.
    *
    * Returns (cell, new_id, exemplar_id, cos): each new doc with any
    * INDEXED cell-mate at cosine ≥ `threshold`, exemplar = smallest
    * such corpus id. Within-batch duplicates are the batch variant's
    * job ([[semanticDropList]] over the batch alone) — this operator
    * is the arrivals-vs-corpus half of the split.
    */
  def semanticProbe(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, batch: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double): DataFrame = {
    val nb = batch.select(
      IvfIndex.bestCell(col(vecCol), centroids).as("cell"),
      col(idCol).as("id2"), col(vecCol).as("v2"))
    // Null vectors quantize to a null cell, which the probe drops and
    // no join matches — null-vec arrivals report no corpus near-dup,
    // matching the batch operators where null keys fall out of the cell
    // self-join.
    val cb = CellIndex.probe(spark.read.parquet(indexPath), nb)
      .select(col("cell"), col("id").as("id1"), col("vec").as("v1"))
    cb.join(nb, Seq("cell"))
      .withColumn("cos", Similarity.cosine(col("v1"), col("v2")))
      .filter(col("cos") >= threshold)
      .groupBy(col("cell"), col("id2").as("new_id"))
      .agg(min(col("id1")).as("exemplar_id"),
        min_by(col("cos"), col("id1")).as("cos"))
  }

  /** Exact Jaccard similarity join via PREFIX FILTERING (the
    * AllPairs/PPJoin family — see [[SetSimilarity]]): every pair with
    * Jaccard ≥ `threshold`, with NO all-pairs blowup and NO lossy
    * frequency cap — the sub-quadratic exact twin of [[jaccardPairs]]
    * (whose shingle-frequency self-join is the documented
    * deliberately-quadratic diagnostic).
    *
    * Why it is exact: if J(A,B) ≥ t, A and B share at least one
    * shingle among the `|·| − ⌈t·|·|⌉ + 1` rarest of EACH (else the
    * overlap is too small to reach t) — so joining prefix-to-prefix
    * loses nothing, and the exact verification pass restores precision.
    * The size and positional filters are the same kind of lossless
    * prune.
    *
    * Scale shape: the candidate join runs on PREFIXES of the RAREST
    * shingles — precisely the shingles with the smallest join fan-out
    * (a shingle in k docs contributes ≤ k² candidate rows, and rare
    * means small k). Stop-shingle skew, which forces [[jaccardPairs]]'
    * lossy cap, never enters: common shingles sort to the END of every
    * document's order and stay out of the prefixes of any document with
    * enough rare material — and where they do enter (tiny documents),
    * completeness REQUIRES them. Verification touches candidate pairs
    * only; its cost tracks the true near-dup count, not n².
    */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // 8-byte shingle HASHES, not strings: every downstream pass (the
    // rarity sort, both candidate-join sides, both verify sides) keys
    // on the shingle, and long keys sort/hash at a fraction of the
    // 3-word-string cost. Jaccard over hash sets equals Jaccard over
    // string sets modulo 64-bit collisions (~n²/2⁶⁴ — the documented
    // [[shingleHashes]] trade the whole LSH path already makes); the
    // rarity order becomes (freq, hash) — a different but equally
    // total global order, which is all completeness needs.
    Materialize.cached(shingleHashes(df, idCol, textCol, n)) { sh =>
      val prefix = SetSimilarity.prefix(
        SetSimilarity.ranked(sh, SetSimilarity.frequency(sh)), threshold)
      val cands = SetSimilarity.candidates(prefix, prefix,
        col("a.id") < col("b.id") && SetSimilarity.jaccardBound(threshold))
      Materialize(SetSimilarity.verifyWithin(cands, sh, SetSimilarity.Jaccard, threshold)
        .select("id1", "id2", "jaccard"))
    }
  }

  /** Exact CONTAINMENT similarity join — the ASYMMETRIC twin of
    * [[prefixJaccardJoin]]: every ordered pair (A, B) with
    * C(A→B) = |A∩B| / |A| ≥ `threshold` over word-`n`-gram shingle
    * sets. Containment is what QUOTE / near-superset detection needs
    * and Jaccard structurally cannot express: a short document fully
    * embedded in a long one has J ≈ |A|/|B| (arbitrarily small) but
    * C(A→B) = 1 — the "benchmark passage quoted inside a web page"
    * case that motivates span decontamination, surfaced here as a
    * pairwise relation (who contains whom) instead of a scrub.
    *
    * Exactness: if C(A→B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so ANY
    * |A| − ⌈t·|A|⌉ + 1 elements of A include at least one shared
    * shingle — A's rarity prefix (the same lossless prefix as the
    * Jaccard join) must hit B. Because containment puts NO lower bound
    * on where the shared shingle sits in B's order, the index side is
    * B's FULL shingle relation (the inverted-index shape the BM25
    * postings already use), not B's prefix; the verification pass is
    * the same per-document array_intersect.
    *
    * Scale shape: candidate fan-out is Σ over A-prefix postings of
    * df(shingle) — bounded because prefixes hold each document's
    * globally RAREST shingles by construction (a stop-shingle can only
    * enter the prefix of a document too small to have rare material,
    * where completeness requires it). Verification touches candidate
    * pairs only, with the same size-gated doc-set broadcast as
    * [[prefixJaccardJoin]].
    *
    * Output carries the pair's set sizes (id1, id2, containment, sz1,
    * sz2) so [[containmentCollapse]]'s dominance rule reuses the single
    * shingle pass instead of re-tokenizing the corpus. */
  def prefixContainmentJoin(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    Materialize.cached(shingleHashes(df, idCol, textCol, n)) { sh =>
      val prefix = SetSimilarity.prefix(
        SetSimilarity.ranked(sh, SetSimilarity.frequency(sh)), threshold)
      val cands = SetSimilarity.candidates(prefix, sh, col("a.id") =!= col("b.id"))
      Materialize(SetSimilarity.verifyWithin(cands, sh, SetSimilarity.Containment,
        threshold))
    }
  }

  /** The on-disk CONTAINMENT index — the corpus's full shingle relation
    * with the per-doc set size denormalized: (id, shingle, sz). The
    * [[bandIndex]] pattern for the containment family: built once over
    * the accumulated corpus (or appended per accepted epoch, the gate
    * convention), so a nightly [[newVsCorpusContainment]] probe never
    * re-shingles the corpus — the index IS the inverted relation the
    * batch prefix joins, and verification reconstructs candidate doc
    * sets from the same rows. One id-partitioned window supplies sz
    * (each partition bounded by its own doc's shingle count). */
  def containmentIndex(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("id"))
    shingleHashes(corpus, idCol, textCol, n)
      .withColumn("sz", count(lit(1)).over(w))
  }

  /** Persist a [[containmentIndex]] (parquet; epoch layouts are the
    * caller's convention, as with [[bandIndex]]). */
  def writeContainmentIndex(corpus: DataFrame, idCol: String,
      textCol: String, path: String, n: Int = 3): Unit =
    containmentIndex(corpus, idCol, textCol, n)
      .write.mode("overwrite").parquet(path)

  /** Probe a NEW batch against a prebuilt [[containmentIndex]]: every
    * pair (id1 = new doc, id2 = corpus doc) with C(new → corpus) =
    * |A∩B| / |A| ≥ `threshold` — the ingest-gate direction (an arriving
    * quote/near-subset of stored content is the thing to reject).
    * The incremental cost profile, mirroring [[newVsCorpusPairs]]:
    *
    *   - only the BATCH is shingled (one scan of the arrivals);
    *   - the batch-side prefix is ordered by the CORPUS document
    *     frequency of each shingle, computed over index rows semi-join-
    *     pruned to the batch's shingles (cost tracks the batch; an
    *     unseen shingle gets df 0 = rarest). Exactness never depends on
    *     the order — ANY |A| − ⌈t·|A|⌉ + 1 elements of A must hit a
    *     C ≥ t superset — so frozen corpus stats are sound, and rarity
    *     remains the candidate-economy choice;
    *   - the candidate join probes prefix → index (the new side is
    *     batch-sized); verification rebuilds doc sets from INDEX rows
    *     pruned to the broadcast candidate ids — corpus text is never
    *     read.
    * A doc id on both sides stays two distinct documents (the sides
    * never pool shingles — batch sets come from `newSh`, corpus sets
    * from the index). Full-replay equivalence: the result equals
    * [[prefixContainmentJoin]] over corpus ∪ batch restricted to
    * (id1 ∈ batch, id2 ∈ corpus) — the `dedup_containment_inc` oracle
    * replays exactly that. */
  def newVsCorpusContainment(index: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    Materialize.cached(shingleHashes(newDocs, idCol, textCol, n)) { newSh =>
      val batchShingles = newSh.select("shingle").distinct()
      val freq = SetSimilarity.frequency(
        index.join(batchShingles, Seq("shingle"), "left_semi"))
      val prefix = SetSimilarity.prefix(
        SetSimilarity.rankedAgainst(newSh, freq), threshold)
      // distinct here, not only in the verifier: the candidate-id prune
      // reads the same distinct pairs
      val cands = SetSimilarity.candidates(prefix, index, lit(true)).distinct()
      val candIds = cands.select(col("id2").as("id")).distinct()
      val corpSets = SetSimilarity.docSets(
        index.join(broadcast(candIds), Seq("id"), "left_semi"))
      Materialize(SetSimilarity.verify(cands, SetSimilarity.docSets(newSh),
          corpSets, SetSimilarity.Containment, threshold)
        .select("id1", "id2", "containment"))
    }
  }

  /** The on-disk EXACT-JACCARD prefix index — [[writeContainmentIndex]]'s
    * symmetric sibling, the store [[newVsCorpusJaccard]] probes. Two
    * relations under `path`:
    *   - `postings` (id, shingle, sz, pos): the corpus shingle relation
    *     with each doc's set size and the shingle's RANK within the doc
    *     under the FROZEN corpus rarity order (document frequency asc,
    *     shingle asc — a total order fixed at build time);
    *   - `freq` (shingle, freq): that frozen order itself, so a probe
    *     ranks BATCH docs under the identical order (prefix-filtering
    *     completeness needs ONE shared total order across both sides;
    *     any fixed order is lossless — Chaudhuri ICDE'06).
    * Built in one corpus pass; epoch layouts are the caller's
    * convention (the [[bandIndex]] stance). */
  def writeJaccardIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, n: Int = 3): Unit = {
    Materialize.cached(shingleHashes(corpus, idCol, textCol, n)) { sh =>
      val freq = SetSimilarity.frequency(sh)
      SetSimilarity.ranked(sh, freq).write.mode("overwrite").parquet(s"$path/postings")
      freq.write.mode("overwrite").parquet(s"$path/freq")
    }
  }

  /** Probe a NEW batch against a [[writeJaccardIndex]] store: every
    * cross-split pair (id1 = corpus doc, id2 = new doc) with
    * J(A,B) ≥ `threshold` — the EXACT incremental twin of
    * [[newVsCorpusPairs]] (banded candidates are probabilistic with a
    * verified recall floor; prefix candidates are LOSSLESS, so this
    * probe provably misses nothing). Incremental cost profile:
    *
    *   - only the batch is shingled; its docs rank under the store's
    *     frozen order (one broadcast-sized probe of `freq` restricted
    *     to batch shingles; unseen shingles take df 0 = rarest, which
    *     only SHORTENS real work — they cannot match the corpus);
    *   - candidates are corpus-PREFIX ⋈ batch-PREFIX rows on the
    *     shingle (both prefixes under the one frozen order — exactness
    *     holds for any fixed shared total order), with the lossless
    *     size filter and PPJoin positional bound applied in the join
    *     condition;
    *   - verification rebuilds corpus candidate doc sets from INDEX
    *     rows (broadcast candidate-id prune) — corpus text never read.
    * Full-replay equivalence: ≡ [[prefixJaccardJoin]] over
    * corpus ∪ batch restricted to cross-split pairs ≡ the exact
    * cross-split Jaccard join (the `dedup_incremental` oracle, which
    * `dedup_jaccard_inc` reuses verbatim — two different candidate
    * engines, one exact answer). */
  def newVsCorpusJaccard(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, newDocs: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val postings = spark.read.parquet(s"$indexPath/postings")
    val freq = spark.read.parquet(s"$indexPath/freq")
    Materialize.cached(shingleHashes(newDocs, idCol, textCol, n)) { newSh =>
      val batchShingles = newSh.select("shingle").distinct()
      val bPrefix = SetSimilarity.prefix(SetSimilarity.rankedAgainst(newSh,
        freq.join(batchShingles, Seq("shingle"), "left_semi")), threshold)
      val cands = SetSimilarity.candidates(SetSimilarity.prefix(postings, threshold),
        bPrefix, SetSimilarity.jaccardBound(threshold)).distinct() // shared with the prune
      val candIds = cands.select(col("id1").as("id")).distinct()
      val cSets = SetSimilarity.docSets(
        postings.join(broadcast(candIds), Seq("id"), "left_semi"))
      Materialize(SetSimilarity.verify(cands, cSets, SetSimilarity.docSets(newSh),
          SetSimilarity.Jaccard, threshold)
        .select("id1", "id2", "jaccard"))
    }
  }

  /** The ACTIONABLE form of [[prefixContainmentJoin]]: drop every
    * document contained (≥ `threshold`) in a LARGER document — the
    * quote/near-subset collapse a pipeline runs after the pairwise
    * relation exists. Dominance is (larger shingle set wins; equal
    * sizes — the exact-dup case, containment is symmetric there — keep
    * the smaller id), so exactly one exemplar of every exact-dup set
    * survives, a short passage quoted inside a long page is dropped in
    * favor of the page, and the rule is a pure function of the pair
    * relation (deterministic, partitioning-independent).
    *
    * Scale shape: the join inherits the prefix-filtered candidate
    * economics (including the size carry — sz1/sz2 ride the pair
    * relation, so the collapse never re-tokenizes the corpus); the
    * collapse itself is one distinct + one left anti join on ids.
    * Documents with no shingles (null/empty text) never enter the
    * relation and always survive. */
  def containmentCollapse(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    val dominated = prefixContainmentJoin(df, idCol, textCol, threshold, n)
      .filter(col("sz2") > col("sz1") ||
        (col("sz2") === col("sz1") && col("id2") < col("id1")))
      .select(col("id1").as(idCol)).distinct()
    df.join(dominated, Seq(idCol), "left_anti")
  }

  /** (id, sig) → (key, b, id, sig): the `blocks` contiguous bit-range
    * keys of each signature. Block b covers bits [b·w, (b+1)·w) with
    * w = bits/blocks; `blocks` must divide `bits` so the agreement
    * regions PARTITION the signature exactly — the pigeonhole guarantee
    * in [[newVsCorpusSimhash]] depends on it. Pure bit arithmetic
    * (shift + mask), fully codegen'd. `carry` names extra input columns
    * to ride along on every block row (the phash family carries its
    * secondary `dsig` signature this way — a projection, never a
    * join-back). */
  def simhashBlocks(sigs: DataFrame, bits: Int, blocks: Int,
      carry: Seq[String] = Nil): DataFrame = {
    require(blocks >= 1 && bits % blocks == 0,
      s"blocks must divide bits, got bits=$bits blocks=$blocks")
    val w = bits / blocks
    // w = 64 (bits=64, blocks=1): `1L << 64` wraps to 1 on the JVM and
    // would zero every key — the full-width block keeps the whole sig
    val mask = if (w == 64) -1L else (1L << w) - 1
    sigs.select(col("id") +: col("sig") +: carry.map(col) :+
        explode(array((0 until blocks).map(b =>
          struct(lit(b).as("b"),
            shiftright(col("sig"), b * w).bitwiseAND(mask).as("key"))): _*))
          .as("blk"): _*)
      .select(col("blk.key").as("key") +: col("blk.b").as("b") +:
        col("id") +: col("sig") +: carry.map(col): _*)
  }

  /** The on-disk SIMHASH near-dup index — the Hamming-space member of
    * the incremental-probe family (banded MinHash: [[bandIndex]];
    * exact Jaccard: [[writeJaccardIndex]]; containment:
    * [[writeContainmentIndex]]; SemDeDup cells: [[semanticProbe]]'s
    * cell layout). Manku, Jain & Das Sarma's blocked scheme (WWW 2007,
    * "Detecting near-duplicates for web crawling"): split every
    * `bits`-bit signature into `blocks` contiguous bit-ranges; by
    * pigeonhole, two signatures within Hamming distance r ≤ blocks−1
    * must agree EXACTLY on at least one whole block, so block-equality
    * candidates are LOSSLESS at the standard r = 3, blocks = 4 — the
    * one near-dup family whose candidate stage is exact with no
    * banding-recall caveat (verification only FILTERS, recomputing the
    * distance from signatures the candidate rows already carry).
    *
    * Store under `path`: ONE relation, `blocks` (key, id, sig, batch,
    * b) — `blocks` rows per doc under `batch=<epoch>/b=<ordinal>`
    * (the graph index's `batch=epoch/nb=bucket` convention), each
    * epoch's rows sorted by `key` within its block partition, so a
    * probe's equality join prunes to block directories and parquet
    * row-group min/max statistics skip non-colliding key ranges — the
    * Spark-relational form of Manku's sorted permuted tables. Each row
    * carries the FULL signature, so verification is index-local AND
    * the per-doc signature relation is recoverable as the `b = 0`
    * slice (one row per doc) — no second relation to keep
    * transactionally in step: the right-to-be-forgotten sweep is a
    * single epoch-granular [[Retraction.retract]] pass and
    * [[Compaction.compactEpochs]] collapses epochs generically. One
    * corpus pass; [[appendSimhashIndexEpoch]] adds nightly arrivals.
    *
    * This CREATES the store: any prior epochs under `path/blocks` are
    * replaced. The per-epoch overwrite below replaces only its own
    * `batch=` partition, so without the sweep a rebuild into a
    * directory holding epochs > `epoch` would silently retain them and
    * probes would keep answering from the old corpus. The replacement
    * is the repo's crash-safe tree swap ([[Retraction.recoverTree]]
    * discipline): the rebuild epoch is written COMPLETE to
    * `.blocks-tmp` first, then the live tree moves aside and the tmp
    * renames in — a CRASH at any point leaves a layout [[Retraction
    * .recoverTree]] restores to the full old tree or the full new one,
    * never a half-deleted one. A concurrent reader racing the
    * two-rename instant can still observe the path briefly absent
    * (rename pairs are not atomic together); rebuild-while-serving
    * deployments should retry a missing-path probe or rebuild into a
    * fresh root — what the swap buys is that no crash strands the
    * store unreadable. */
  def writeSimhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, tokenHash: Column => Column = md5TokenHash60,
      bits: Int = 60, blocks: Int = 4, epoch: Long = 0L): Unit = {
    val spark = corpus.sparkSession
    Retraction.recoverTree(spark, path, "blocks")
    val p = (s: String) => new org.apache.hadoop.fs.Path(s)
    val fs = p(path).getFileSystem(spark.sessionState.newHadoopConf())
    // a tmp surviving recovery is a crashed FIRST build's partial write
    // (no live tree existed to anchor the repair) — it is ours to
    // clobber, and MUST be: the per-epoch overwrite below clears only
    // its own batch= partition, so a stale partial epoch at a different
    // id would otherwise rename into the live store
    if (fs.exists(p(s"$path/.blocks-tmp")))
      fs.delete(p(s"$path/.blocks-tmp"), true)
    writeSimhashBlocksTo(corpus, idCol, textCol, s"$path/.blocks-tmp", epoch,
      tokenHash, bits, blocks)
    val live = p(s"$path/blocks")
    if (fs.exists(live)) fs.rename(live, p(s"$path/.blocks-aside"))
    fs.rename(p(s"$path/.blocks-tmp"), live)
    fs.delete(p(s"$path/.blocks-aside"), true)
    ()
  }

  /** Append one epoch of arrivals to a [[writeSimhashIndex]] store:
    * sign the delta, write its block rows under `batch=<epoch>` —
    * overwrite-by-epoch, so a replayed append is idempotent, and a
    * probe over the whole store sees old ∪ new without rewriting a
    * byte of prior epochs (the appendIndexEpoch discipline every other
    * serving index follows). */
  def appendSimhashIndexEpoch(delta: DataFrame, idCol: String,
      textCol: String, path: String, epoch: Long,
      tokenHash: Column => Column = md5TokenHash60,
      bits: Int = 60, blocks: Int = 4): Unit =
    writeSimhashBlocksTo(delta, idCol, textCol, s"$path/blocks", epoch,
      tokenHash, bits, blocks)

  /** The shared epoch write: sign, block, land sorted block rows as
    * epoch `epoch` of the store at `root` — live for appends, the tmp
    * root for [[writeSimhashIndex]]'s crash-safe rebuild swap. */
  private def writeSimhashBlocksTo(delta: DataFrame, idCol: String,
      textCol: String, root: String, epoch: Long,
      tokenHash: Column => Column, bits: Int, blocks: Int): Unit =
    EpochStore.write(
      simhashBlocks(
          simhashSignatures(delta, idCol, textCol, tokenHash, bits),
          bits, blocks)
        .repartition(col("b"))
        .sortWithinPartitions(col("key")),
      root, epoch, "b")

  /** The probe core shared by [[newVsCorpusSimhash]] (serving store)
    * and [[graft.streaming.SimhashGate]] (accumulated epoch rows):
    * block-equality candidates between a signed batch and a block-row
    * relation, verified by one codegen'd bit_count(xor). Emits
    * (id1 = probe doc, id2 = store doc, dist), distinct. */
  def probeSimhash(storeBlocks: DataFrame, newSigs: DataFrame,
      bits: Int, blocks: Int, maxDist: Int): DataFrame =
    probeSimhashBlocks(storeBlocks, simhashBlocks(newSigs, bits, blocks),
      blocks, maxDist)

  /** [[probeSimhash]] over PRE-DERIVED probe block rows — lets a caller
    * that already materialized `simhashBlocks` (the gate's per-batch
    * persist) probe without re-deriving the explode/shift projection. */
  private[graft] def probeSimhashBlocks(storeBlocks: DataFrame,
      probeBlocks: DataFrame, blocks: Int, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < blocks,
      s"lossless candidates need maxDist < blocks, got maxDist=$maxDist blocks=$blocks")
    probeBlocks.as("n")
      .join(storeBlocks.as("c"),
        col("n.b") === col("c.b") && col("n.key") === col("c.key"))
      .select(col("n.id").as("id1"), col("c.id").as("id2"),
        hamming(col("n.sig"), col("c.sig")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Probe a NEW batch against a [[writeSimhashIndex]] store: every
    * cross-split pair (id1 = new doc, id2 = corpus doc) with
    * Hamming(sig1, sig2) ≤ `maxDist` — near-duplicate detection at
    * crawl-ingest time, exactly Manku's production setting. LOSSLESS
    * for maxDist ≤ blocks−1 (the pigeonhole guarantee — enforced), so
    * unlike the banded MinHash probe there is no recall floor to
    * quantify: the result EQUALS the brute-force cross-split Hamming
    * join, which is what the `dedup_simhash_inc` oracle replays.
    *
    * Incremental cost profile: only the BATCH is tokenized and signed
    * (one scan of the arrivals — corpus text is never read, not even
    * for verification, because block rows carry the full signature);
    * the candidate join is (b, key) equality with a batch-sized probe
    * side against the block-partitioned store; verification is one
    * codegen'd bit_count(xor) per candidate row. At warehouse scale
    * the probe side is |batch|·blocks rows and the store side prunes
    * by key statistics — no stage touches corpus cardinality except
    * the pruned index scan itself. */
  def newVsCorpusSimhash(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, newDocs: DataFrame, idCol: String,
      textCol: String, tokenHash: Column => Column = md5TokenHash60,
      bits: Int = 60, blocks: Int = 4, maxDist: Int = 3): DataFrame =
    probeSimhash(spark.read.parquet(s"$indexPath/blocks"),
      simhashSignatures(newDocs, idCol, textCol, tokenHash, bits),
      bits, blocks, maxDist)

  /** CAP-AND-FLAG escape hatch for the incremental probe — mega-cluster
    * protection. The probe's TRUE pair relation is quadratic inside
    * duplicate clusters (near-identical texts collide on whole blocks;
    * a crawl with a million copies of one boilerplate page makes the
    * lossless pair set itself the explosion), so a production gate
    * wants the option to NOT materialize it: per candidate bucket
    * (block ordinal, block key), the projected pair count — probe-side
    * occupancy × store-side occupancy, computed from two bucket
    * aggregations BEFORE any join, so the overflowing join never runs —
    * is compared against `maxPairsPerBucket`; buckets over the cap emit
    * ONE `(b, key, n_pairs)` overflow row each instead of their pairs,
    * and only the surviving buckets join and verify.
    *
    * Polarity: LOSSLESS IS THE DEFAULT — [[newVsCorpusSimhash]] has no
    * cap and is the oracle-gated `dedup_simhash_inc` path; this variant
    * is opt-in for operators who would rather see "bucket X projects
    * 10⁹ pairs" as an alarm row than as an execution. A pair colliding
    * in both a flagged and an unflagged bucket still surfaces through
    * the unflagged one (pairs, not buckets, are what distinct() dedups)
    * — only pairs ALL of whose shared blocks overflow are withheld,
    * and every withheld bucket is named in the overflow relation.
    * Store-side occupancy is counted only for buckets the probe
    * touches (left-semi prune — the same key pruning the probe join
    * itself rides). Returns (pairs, overflow). */
  def newVsCorpusSimhashCapped(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, newDocs: DataFrame, idCol: String,
      textCol: String, maxPairsPerBucket: Long,
      tokenHash: Column => Column = md5TokenHash60,
      bits: Int = 60, blocks: Int = 4,
      maxDist: Int = 3): (DataFrame, DataFrame) = {
    require(maxPairsPerBucket >= 1,
      s"maxPairsPerBucket must be positive, got $maxPairsPerBucket")
    val storeBlocks = spark.read.parquet(s"$indexPath/blocks")
    // ONE signature pass per batch (the SimhashGate discipline): the
    // block relation feeds the occupancy count, the overflow join and
    // the surviving-bucket probe, and the RETURNED DataFrames re-derive
    // their subtrees per action — checkpoint so tokenize+md5+sign runs
    // once, not once per consumer
    val probeBlocks = Materialize(simhashBlocks(
        simhashSignatures(newDocs, idCol, textCol, tokenHash, bits),
        bits, blocks))
    val probeOcc = probeBlocks.groupBy(col("b"), col("key"))
      .agg(count(lit(1)).as("np"))
    val storeOcc = storeBlocks
      .join(probeOcc.select(col("b"), col("key")), Seq("b", "key"),
        "left_semi")
      .groupBy(col("b"), col("key")).agg(count(lit(1)).as("ns"))
    val overflow = probeOcc.join(storeOcc, Seq("b", "key"))
      .withColumn("n_pairs", col("np") * col("ns"))
      .filter(col("n_pairs") > maxPairsPerBucket)
      .select(col("b"), col("key"), col("n_pairs"))
    val okProbe = probeBlocks.join(
      overflow.select(col("b"), col("key")), Seq("b", "key"), "left_anti")
    (probeSimhashBlocks(storeBlocks, okProbe, blocks, maxDist), overflow)
  }
}
