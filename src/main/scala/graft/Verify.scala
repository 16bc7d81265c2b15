package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import operators.GenerationStore.{deleteRec, jsonQuote}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: `runMain graft.Verify <sfDir> <outDir> [namePrefix ...]`. */
object Verify {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val (queries, unmatched) = Harness.selected(args.drop(2).toSeq)
    val failed = run(spark, args(0), args(1), queries)
    spark.stop()
    Harness.exitOn("verify", failed, unmatched)
  }

  /** Writes each query's result to `outDir/<name>` and every oracle SQL
    * to `outDir/oracle_sql.json`; returns the names that failed. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Seq[(String, Harness.Query)]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = Harness.eachQuery("verify", queries) { (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    // a failing query must not leave a PREVIOUS run's parquet in
    // place — the driver compare would silently pass on stale results
    failed.foreach(name => deleteRec(Paths.get(outDir, name)))
    // quoted with every control char escaped: a tab or CR in the SQL
    // would otherwise make the driver's json.load fail
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
