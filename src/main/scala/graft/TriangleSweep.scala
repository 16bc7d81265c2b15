package graft

import org.apache.spark.sql.functions._

/** Scale evidence for the q147 sampleMod advisor: at the 30× fixture,
  * the advisor applied to the CENSUSED graph (threshold 0.4 — the
  * q123 graph whose exact 503.6 M-triangle census is the committed
  * 30× truth) under a 10⁸-wedge budget must pick a mod whose
  * deterministic Doulion estimate re-derives the census within the
  * estimator's variance bound σ² = T(mod³−1) + 2Δ(mod−1)
  * ([[graft.operators.Similarity.triangleEstimateSigma]]; Δ = pairs
  * of triangles sharing an edge, from the calibrated numpy oracle —
  * scripts/np_triangle_check.py computed T = 503,644,355 and the
  * engine's census matched it bit-exact at r13).
  *
  * Runs the ENGINE end-to-end: exact wedge volume (the advisor's
  * pre-flight), [[graft.operators.Similarity.triangleSampleAuto]] at
  * the budget, plus the exact census total off
  * [[graft.operators.Similarity.triangleCensus]]'s histogram for the
  * in-session truth. Emits ONE JSON line (stdout + out file);
  * TriangleAdvisorSpec re-derives the advised mod and the 3σ bound
  * from the committed artifact.
  *
  * Usage: SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=64g \
  *   sbt "runMain graft.TriangleSweep [sfDir] [threshold] [budget]" */
object TriangleSweep {
  def main(args: Array[String]): Unit = {
    val out = sys.env.getOrElse("SPARK_GRAFT_SWEEP_OUT", "TRIANGLE_SWEEP.json")
    val sfDir = if (args.length > 0) args(0) else "/root/repo/scaledata/sf3skew"
    val threshold = if (args.length > 1) args(1).toDouble else 0.4
    val budget = if (args.length > 2) args(2).toLong else 100000000L
    val spark = Harness.session()
    val S = graft.operators.Similarity
    import Harness.timed
    val emb = Tables.embeddings(spark, sfDir)
    val (wv, wvSec) = timed(S.wedgeVolume(emb, threshold))
    val mod = S.sampleModFor(wv, budget)
    val (est, estSec) = timed(
      S.triangleSampleAuto(emb, threshold, budget).head())
    // exact in-session truth: Σ triangles·n_vecs / 3 over the census
    // histogram (each triangle counted once per vertex)
    val (exact, exactSec) = timed(
      S.triangleCensus(emb, threshold)
        .agg(sum(col("triangles") * col("n_vecs"))).head().getLong(0) / 3)
    val line =
      s"""{"fixture":"$sfDir","threshold":$threshold,"budget":$budget,""" +
      s""""wedge_vol":$wv,"advised_mod":$mod,""" +
      s""""n_edges":${est.getLong(2)},"kept_edges":${est.getLong(3)},""" +
      s""""tri_sampled":${est.getLong(4)},"tri_est":${est.getLong(5)},""" +
      s""""exact_triangles":$exact,""" +
      f""""wedge_sec":$wvSec%.2f,"sample_sec":$estSec%.2f,"census_sec":$exactSec%.2f}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
