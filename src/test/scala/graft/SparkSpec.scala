package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate → one session
  * per test JVM; sbt forks a single test JVM so startup cost is paid once).
  * Built by [[Harness.builder]] like every entry point, so the suites run
  * the session shape the program ships. Unlike [[Harness.session]] it
  * leaves the TopK rewrite to the queries that install it, as the
  * plan-shape specs expect. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Harness.builder(4).getOrCreate()

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Deterministic-result check: same plan twice, same rows. */
  def assertDeterministic(df: => DataFrame): Unit =
    assert(rows(df) == rows(df))
}
