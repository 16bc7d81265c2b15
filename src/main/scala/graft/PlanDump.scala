package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Measurement tool (optimization guide §1.2/§7.2): dump
  * `.explain("formatted")` for declared queries to files, so plan claims
  * (Exchange count, join strategy, PushedFilters/ReadSchema) are
  * checkable without running Spark. Same session as Bench
  * ([[Harness.session]]) so the dumped plan is the benched plan.
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_PLAN_OUT=plans/r16 \
  *     sbt "runMain graft.PlanDump q143 q144"        // name prefixes
  *   sbt "runMain graft.PlanDump"                    // all queries
  *
  * Suffix via SPARK_GRAFT_PLAN_SUFFIX (default "before"): files land at
  * $out/<query>_<suffix>.txt. Queries whose construction executes eager
  * sub-jobs (index builds) still dump only the RETURNED frame's plan —
  * the declared result the driver hashes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "plans/r16")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))
    val (queries, unmatched) = Harness.selected(args.toSeq)
    val failed = Harness.eachQuery("plandump", queries) { (name, fn) =>
      val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
    Harness.exitOn("plandump", failed, unmatched)
  }
}
