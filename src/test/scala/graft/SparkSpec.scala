package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate → one session
  * per test JVM; sbt forks a single test JVM so startup cost is paid once).
  * Built through [[SessionDefaults.tune]] like every entry point, so the
  * suites run the static settings the program ships. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SessionDefaults.tune(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Deterministic-result check: same plan twice, same rows. */
  def assertDeterministic(df: => DataFrame): Unit =
    assert(rows(df) == rows(df))
}
