package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The one session shape, query selection and query loop every entry
  * point runs through ([[Harness]]). */
class HarnessSpec extends SparkSpec {
  private val noQuery: Harness.Query = (s, _) => s.range(1).toDF()

  test("the session carries the shape and the static settings") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") ==
      SessionDefaults.CodegenCacheEntries.toString)
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(conf.get("spark.sql.codegen.useIdInClassName") == "false")
    assert(spark.sparkContext.getConf
      .get("spark.shuffle.sort.bypassMergeThreshold") == "1")
  }

  test("selected: no prefix selects every query sorted, a full name " +
    "selects itself") {
    val (all, unmatched) = Harness.selected(Nil)
    val names = all.map(_._1)
    assert(names.size == 148 && unmatched.isEmpty)
    assert(names == names.sorted)
    names.foreach(n => assert(Harness.selected(Seq(n))._1.map(_._1) == Seq(n), n))
  }

  test("selected: a prefix that matches no query is returned, not dropped " +
    "into an empty run") {
    val (queries, unmatched) = Harness.selected(Seq("q999"))
    assert(queries.isEmpty && unmatched == Seq("q999"))
    val (some, typo) = Harness.selected(Seq("q01_", "q01x"))
    assert(some.map(_._1) == Seq("q01_impact_agg") && typo == Seq("q01x"))
  }

  test("eachQuery continues past a throwing query and returns its name; " +
    "a fatal error is not caught") {
    val seen = ArrayBuffer.empty[String]
    val failed = Harness.eachQuery("spec", Seq("a", "b", "c").map(_ -> noQuery)) {
      (name, _) =>
        seen += name
        if (name == "b") throw new IllegalStateException("boom")
    }
    assert(seen.toSeq == Seq("a", "b", "c") && failed == Seq("b"))
    intercept[LinkageError] {
      Harness.eachQuery("spec", Seq("x" -> noQuery))((_, _) => throw new LinkageError("x"))
    }
  }

  test("Verify.run returns its failed queries, writes the others and " +
    "removes a failed query's earlier output") {
    val out = Files.createTempDirectory("harness-verify")
    val stale = Files.createDirectories(out.resolve("q_bad"))
    Files.write(stale.resolve("part-0.parquet"), Array[Byte](1))
    val bad: Harness.Query = (_, _) => throw new IllegalStateException("boom")
    val failed = Verify.run(spark, "unread", out.toString,
      Seq("q_bad" -> bad, "q_ok" -> noQuery))
    assert(failed == Seq("q_bad"))
    assert(!Files.exists(stale))
    assert(Files.exists(out.resolve("q_ok")))
    assert(Files.exists(Paths.get(out.toString, "oracle_sql.json")))
    operators.GenerationStore.deleteRec(out)
  }
}
