package graft.tools

import graft.{GraftSession, Materialize, Tables}
import graft.ops.{Dedup, IvfIndex, Similarity}
import org.apache.spark.sql.functions._

/** Recall measurement for the SemDeDup operators against the exact
  * all-pairs ground truth — quantifies the gate-vs-production
  * distinction the SCALING.md round-11 note argued qualitatively.
  *
  * Ground truth: a doc is a TRUE duplicate iff ANY smaller-id partner
  * sits at cosine ≥ τ (the [[Dedup.semanticDropList]] drop rule with
  * the cell constraint removed). Computed exactly by broadcasting the
  * whole normalized matrix (N×dim floats — MBs at measurement scale)
  * and scanning rows against it — O(N²·dim) flops but zero shuffle;
  * a measurement tool's budget, not an operator's.
  *
  * Measured configs per run:
  *   - k=16, seeded hyperplanes — the `dedup_semantic` GATE config
  *     (fixed k keeps the oracle literals stable);
  *   - k=16, trained ([[IvfIndex.train]]) — same budget, learned cells;
  *   - k=⌈√N⌉, trained — the PRODUCTION sizing (per-cell quadratic
  *     work held flat as N grows).
  *
  * Output: one recall line per config; committed into SCALING.md.
  * Run: `sbt "runMain graft.tools.SemanticRecall /root/testdata/sf0.1"`.
  */
object SemanticRecall {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val taus = if (args.length > 1) args.drop(1).map(_.toDouble).toSeq
      else Seq(0.35, 0.8, 0.95)
    val spark = GraftSession(16)
    spark.sparkContext.setLogLevel("WARN")
    try Materialize.cached(Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))) { emb =>
      val n = emb.count().toInt

      // exact ground truth: normalized matrix broadcast, row scan
      val rows = emb.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        .sortBy(_._1)
      val norm = rows.map { case (id, v) =>
        val d = math.sqrt(v.map(x => x * x).sum)
        (id, if (d == 0) v else v.map(_ / d))
      }
      // ONE N² pass: per id, the max cosine to any SMALLER id — every
      // threshold's ground truth reads off this vector
      val bc = spark.sparkContext.broadcast(norm)
      val maxCos: Map[Long, Double] = spark.sparkContext
        .parallelize(norm.indices, 32)
        .map { i =>
          val all = bc.value
          val (id, v) = all(i)
          var best = Double.NegativeInfinity
          var j = 0
          while (j < i) { // smaller ids only: sorted by id
            val u = all(j)._2
            var s = 0.0
            var d = 0
            while (d < v.length) { s += v(d) * u(d); d += 1 }
            if (s > best) best = s
            j += 1
          }
          id -> best
        }.collect().toMap

      val kProd = math.ceil(math.sqrt(n.toDouble)).toInt
      val configs = Seq(
        ("k=16 seeded (gate)", Similarity.hyperplanes(64, 16, 7L)),
        ("k=16 trained", IvfIndex.train(emb.toDF("id", "vec"), "id", "vec", 16)),
        (s"k=$kProd trained (production)",
          IvfIndex.train(emb.toDF("id", "vec"), "id", "vec", kProd)))
      val work = configs.map { case (name, cents) =>
        // Σ|cell|² — the within-cell pair-comparison budget the cell
        // bound buys down from the all-pairs N²
        val occ = emb.select(IvfIndex.bestCell(col("embedding"), cents).as("c"))
          .groupBy("c").count().collect().map(_.getLong(1))
        name -> (cents, occ.map(x => x * x).sum)
      }.toMap
      taus.foreach { tau =>
        val trueDups = maxCos.filter(_._2 >= tau).keySet
        println(f"-- tau=$tau  n=$n  true_duplicates=${trueDups.size} " +
          f"(all-pairs work=${n.toLong * n}%d)")
        configs.foreach { case (name, cents) =>
          val dropped = Dedup.semanticDropList(emb, "vec_id", "embedding",
              cents, tau)
            .select("dropped_id").collect().map(_.getLong(0)).toSet
          val hit = (dropped intersect trueDups).size
          val recall = if (trueDups.isEmpty) 1.0 else hit.toDouble / trueDups.size
          val (_, w) = work(name)
          println(f"$name%-28s cells=${cents.length}%4d work=$w%9d " +
            f"dropped=${dropped.size}%5d recall=$recall%.4f")
        }
      }

      // --- planted-twin regime: the cos ≥ 0.99 near-identical band
      // SemDeDup is actually FOR (the synthetic corpus has no natural
      // pairs above ~0.56, so the τ sweep above measures the
      // mid-distance-neighbor regime where cross-cell misses dominate
      // by design). Every 4th vector gets a twin: same direction plus
      // a deterministic 1% perturbation. Ground truth = the planted
      // twin ids themselves (no natural pair reaches τ=0.99).
      import spark.implicits._
      val twins = rows.filter(_._1 % 4 == 0).map { case (id, v) =>
        val p = v.zipWithIndex.map { case (x, i) =>
          (x + 0.01 * math.abs(x) * (if ((id + i) % 2 == 0) 1 else -1)).toFloat }
        (id + 10000000L, p.toSeq)
      }
      Materialize.cached(emb.union(twins.toSeq.toDF("vec_id", "embedding"))) { planted =>
        val tauT = 0.99
        println(s"-- planted twins: ${twins.length} pairs at cos≈0.9999, tau=$tauT")
        configs.foreach { case (name, cents) =>
          val dropped = Dedup.semanticDropList(planted, "vec_id", "embedding",
              cents, tauT)
            .select("dropped_id").collect().map(_.getLong(0)).toSet
          val expect = twins.map(_._1).toSet
          val recall = (dropped intersect expect).size.toDouble / expect.size
          println(f"$name%-28s cells=${cents.length}%4d recall=$recall%.4f " +
            f"(false drops=${(dropped diff expect).size})")
        }
      }
    } finally spark.stop()
  }
}
