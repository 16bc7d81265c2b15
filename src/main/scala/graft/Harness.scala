package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session shape and run loop of every graft entry point
  * (Bench, Verify, PlanDump, FuzzVerify, the sweeps, RefCompare) and of
  * the test session, so a benched, dumped and verified plan is built
  * under the same settings.
  *
  * Failures are loud: a query that throws is printed with its class and
  * stack and named in the loop's result, a name prefix that matches no
  * query is reported, and the query-running entry points write their
  * outputs first and then exit nonzero on either. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Worker threads and shuffle partitions (`SPARK_GRAFT_CPUS`). */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with as many shuffle partitions, UTC, no UI, and the
    * static settings of [[SessionDefaults.tune]]. */
  def builder(cpus: Int): SparkSession.Builder =
    SessionDefaults.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))

  /** An entry point's session. The log level defaults to WARN;
    * `SPARK_GRAFT_LOG=INFO` turns on the DAGScheduler's per-job lines
    * ("Job N finished: <callsite>, took X ms") for profiling runs. The
    * TopK rewrite is installed up front: q09/q63 install it lazily,
    * which would otherwise make every later row_number <= k plan depend
    * on which queries ran before it. */
  def session(): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))
    plans.TopKInstall.install(spark)
    spark
  }

  /** The queries whose names start with one of `prefixes` (all of them
    * when none is given), sorted by name, and the prefixes that matched
    * no query, each reported on stderr. */
  def selected(prefixes: Seq[String]): (Seq[(String, Query)], Seq[String]) = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val unmatched = prefixes.filterNot(p => all.exists(_._1.startsWith(p)))
    unmatched.foreach(p => System.err.println(s"[harness] '$p' matches no query"))
    (all.filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) },
      unmatched)
  }

  /** Runs `body` on each query in order and returns the names that
    * threw. Only non-fatal errors are caught: an OOM still ends the run. */
  def eachQuery(tag: String, queries: Seq[(String, Query)])(
      body: (String, Query) => Unit): Seq[String] =
    queries.flatMap { case (name, q) =>
      try { body(name, q); None }
      catch { case NonFatal(e) =>
        // the class and stack, not just getMessage: a java.nio file
        // exception's message is the bare path
        System.err.println(s"[$tag] $name failed: $e")
        e.printStackTrace()
        Some(name)
      }
    }

  /** Exits nonzero when any query failed or any prefix matched nothing,
    * after the caller has written its outputs and stopped its session. */
  def exitOn(tag: String, failed: Seq[String], unmatched: Seq[String]): Unit =
    if (failed.nonEmpty || unmatched.nonEmpty) {
      System.err.println(s"[$tag] ${failed.size} failed (${failed.mkString(", ")}), " +
        s"${unmatched.size} unmatched prefixes (${unmatched.mkString(", ")})")
      sys.exit(1)
    }

  /** `f`'s result and its wall time in seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
