package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.operators.StageMemo

/** A long-lived session compiles each distinct generated class once
  * ([[SessionDefaults]]): re-running a query set, with `StageMemo`
  * cleared so every shared stage is re-planned, must hit Spark's codegen
  * cache for every class. `METRIC_COMPILATION_TIME` is updated only on
  * a cache miss, so its count is the number of compiles.
  *
  * The curation set's classes overflow a ~25-entry cache segment at
  * Spark's default cache size; q148's two stream starts run on cloned
  * sessions, which recompile under per-session artifact classloaders. */
class CodegenReuseSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Each run starts from an empty `StageMemo`, so both runs plan and
    * build the same stages whatever earlier suites left memoized. */
  private def runSet(names: Seq[String]): Unit = {
    StageMemo.clear(spark)
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count())
  }

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  Seq(
    "curation kernels" -> Seq("q02_wordcount", "q25_dedup_minhash",
      "q61_dedup_keepers", "q28_emb_neardup"),
    "stream starts" -> Seq("q148_stream_sunk")
  ).foreach { case (label, names) =>
    test(s"$label (${names.mkString(", ")}): a second run compiles no class") {
      assume(new java.io.File(sfDir).isDirectory, s"fixture dir $sfDir missing")
      runSet(names)
      val before = compiles
      runSet(names)
      assert(compiles == before, s"${compiles - before} classes recompiled on the second run")
    }
  }
}
