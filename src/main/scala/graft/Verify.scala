package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query-name filter (dev loop)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionDefaults.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session-wide TopK rewrite (idempotent; see Bench): plans must not
    // depend on whether q09 happened to run before a filtered query
    plans.TopKInstall.install(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        // the class and stack, not just getMessage: a java.nio file
        // exception's message is the bare path
        System.err.println(s"[verify] $name failed: $e")
        e.printStackTrace()
        // a failing query must not leave a PREVIOUS run's parquet in
        // place — the driver compare would silently pass on stale results
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(); ()
          }
          rm(dir)
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  // Shared with FuzzVerify's oracle dump; the index markers' codec owns
  // the one implementation.
  private[graft] def jsonQuote(s: String): String =
    operators.GenerationStore.jsonQuote(s)
}
