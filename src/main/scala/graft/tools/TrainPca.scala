package graft.tools

import graft.ops.Pca
import graft.GraftSession
import org.apache.spark.sql.functions._

/** One-off trainer for the committed PCA basis behind `ann_pca` /
  * `q_pca_variance` — the [[TrainClassifier]] pattern applied to the
  * embedding column: train once (integer-exact moments → driver Jacobi,
  * [[graft.ops.Pca]]), commit the eigenbasis as a single-file parquet
  * fixture plus a manifest recording how it was made and how much
  * variance the operating rank keeps, so the DuckDB oracle replays
  * projection against the exact committed relation.
  *
  * Training data is the harness sf0.01 embeddings table — the basis is
  * a MODEL artifact, scale-independent by design (the fixture applies
  * unchanged at every SF, like the classifier weights).
  *
  * Run once, outputs committed: `sbt "runMain graft.tools.TrainPca"`.
  */
object TrainPca {

  val Dim = 64
  /** Operating rank for the ANN projection queries (manifest records
    * the variance this keeps). */
  val Rank = 16

  def main(args: Array[String]): Unit = {
    val srcPath = args.headOption.getOrElse("/root/testdata/sf0.01/embeddings.parquet")
    val outDir = if (args.length > 1) args(1) else "fixtures"
    val spark = GraftSession(8)
    try {
      import spark.implicits._
      val emb = spark.read.parquet(srcPath).select(col("embedding"))
      val basis = Pca.trainBasis(emb, "embedding", Dim)
      val n = emb.count()
      val total = basis.map(_.eigenvalue).sum
      val kept = basis.take(Rank).map(_.eigenvalue).sum
      val basisDf = basis.map(c =>
          (c.component, c.eigenvalue, c.evec.toSeq, c.offset))
        .toDF("component", "eigenvalue", "evec", "offset")
      FixtureIO.writeSingleFile(spark, basisDf.orderBy("component"),
        s"$outDir/pca_basis.parquet")
      val md5 = basisMd5(basis)
      val manifest = Seq((Dim, Rank, n, Pca.Scale, total, kept, kept / total,
          md5, srcPath))
        .toDF("dim", "rank", "n_train", "quant_scale", "total_variance",
          "kept_variance", "kept_frac", "basis_md5", "trained_on")
      FixtureIO.writeSingleFile(spark, manifest,
        s"$outDir/pca_basis_manifest.parquet")
      println(f"trained dim=$Dim rank=$Rank n=$n " +
        f"kept_frac=${kept / total}%.4f md5=$md5")
    } finally spark.stop()
  }

  /** Canonical digest: md5 over exact IEEE bits of every eigenpair in
    * component order — recomputable from the fixture (PcaSpec
    * re-derives it from a retrain). */
  def basisMd5(basis: Seq[Pca.Component]): String = {
    val s = basis.sortBy(_.component).map { c =>
      val bits = (c.eigenvalue +: c.offset +: c.evec.toSeq)
        .map(java.lang.Double.doubleToLongBits).mkString(",")
      s"${c.component}:$bits"
    }.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }
}
