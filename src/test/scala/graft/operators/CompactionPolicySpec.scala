package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The compaction cadence advisor ([[AdmissionIndex.maybeCompact]] /
  * [[AdmissionIndex.compactionCadence]]): the measured sweep curves must
  * keep deriving the deployed cadence constant, and the advisor must
  * fire exactly at the threshold with probe answers unchanged. */
class CompactionPolicySpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files
      .createTempDirectory("graft-compaction-spec").toString + "/idx"

  // ---- cadence constant re-derived from the committed sweep curves --

  /** Crude field extraction from the committed sweep artifacts (flat
    * JSON, repo-controlled shape). Fields are matched independently
    * inside each round object, so a re-generated artifact with a
    * different field order still parses. */
  private def sweepCurve(path: String): (Double, Double) = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    def field(obj: String, key: String): Option[String] =
      ("\"" + key + "\"\\s*:\\s*([0-9.]+)").r
        .findFirstMatchIn(obj).map(_.group(1))
    val rounds = "\\{[^{}]*\\}".r.findAllIn(txt).toSeq.flatMap { obj =>
      for {
        g <- field(obj, "gens_before_probe")
        p <- field(obj, "probe_sec")
      } yield (g.toInt, p.toDouble)
    }
    assert(rounds.size >= 2, s"$path: expected a sweep curve, got $rounds")
    val (g0, p0) = rounds.minBy(_._1)
    val (gMax, pMax) = rounds.maxBy(_._1)
    val slope = (pMax - p0) / (gMax - g0)
    val compact = ("\"compact_sec\":([0-9.]+)").r
      .findFirstMatchIn(txt).map(_.group(1).toDouble)
      .getOrElse(fail(s"$path: no compact_sec"))
    (compact, slope)
  }

  test("DefaultCompactAfterGens is K* of BOTH committed sweep curves " +
    "(a re-measure that moves either curve flags the constant)") {
    for (artifact <- Seq("ADMISSION_SWEEP_GENS_r11.json",
                         "ADMISSION_SWEEP_EMBGENS_r12.json")) {
      val (compact, slope) = sweepCurve(artifact)
      val kStar = AdmissionIndex.compactionCadence(compact, slope)
      assert(kStar >= 1)
      // the deployed constant must sit inside the flat-bottomed
      // optimum's factor-2 band (the amortized cost curve is within a
      // few percent of minimal across [K*/2, 2K*])
      assert(AdmissionIndex.DefaultCompactAfterGens >= (kStar + 1) / 2 &&
             AdmissionIndex.DefaultCompactAfterGens <= 2 * kStar,
        s"$artifact: K*=$kStar vs deployed " +
          s"${AdmissionIndex.DefaultCompactAfterGens}")
    }
  }

  test("compactionCadence math: K* = sqrt(2C/slope), floor 1, loud on " +
    "non-positive inputs") {
    assert(AdmissionIndex.compactionCadence(8.0, 1.0) == 4)
    assert(AdmissionIndex.compactionCadence(0.5, 100.0) == 1)
    intercept[IllegalArgumentException] {
      AdmissionIndex.compactionCadence(0.0, 1.0)
    }
    intercept[IllegalArgumentException] {
      AdmissionIndex.compactionCadence(1.0, -2.0)
    }
  }

  // ---- maybeCompact: fires at the threshold, invisible to probes ----

  test("maybeCompact on an fp index: below threshold no-op, at " +
    "threshold compacts (probe unchanged, generations demoted), " +
    "marker-kind dispatch picks the fp compaction") {
    val base = (0 until 40).map(i =>
      (2L * i, s"unique base document number $i about topic t$i"))
      .toDF("doc_id", "text")
    val dir = freshDir()
    AdmissionIndex.buildFpIndex(base, dir)
    val maxGens = 3
    (0 until maxGens).foreach { g =>
      val novel = Seq((1001L + g, s"brand new admitted document number $g"))
        .toDF("doc_id", "text")
      AdmissionIndex.fpAppendGeneration(novel, dir, s"cadence-g$g")
      // below the threshold the advisor must not fire
      if (g < maxGens - 1)
        assert(!AdmissionIndex.maybeCompact(spark, dir, maxGens),
          s"fired early at ${g + 1} gens")
    }
    assert(AdmissionIndex.liveGenerations(dir) == maxGens)
    val copy = Seq((5001L, "Brand  NEW admitted document number 1"))
      .toDF("doc_id", "text")
    def probe() = AdmissionIndex.fpProbeOnDriver(copy, dir)._2.toSet
    val before = probe()
    assert(before == Set((5001L, 1002L)), before.toString)
    assert(AdmissionIndex.maybeCompact(spark, dir, maxGens))
    assert(AdmissionIndex.liveGenerations(dir) == 0,
      "compaction must demote every generation")
    assert(probe() == before, "compaction changed the fp probe answer")
    // idempotent: nothing live → false
    assert(!AdmissionIndex.maybeCompact(spark, dir, maxGens))
  }

  test("maybeCompact marker-kind dispatch: a TEXT index compacts via " +
    "the band/hset merge (probe unchanged)") {
    val base = (0 until 40).map(i =>
        (2L * i, s"unique text corpus document number $i mentioning " +
          s"topic t$i and subject s$i plus filler alpha beta gamma"))
      .toDF("doc_id", "text")
    val dir = freshDir()
    AdmissionIndex.buildIndex(base, dir)
    val novel = Seq((1001L,
        "a freshly admitted document with wholly original token content"))
      .toDF("doc_id", "text")
    AdmissionIndex.appendGeneration(novel, dir, "cadence-text-g1")
    val copy = Seq((2001L,
        "a freshly admitted document with wholly original token content"))
      .toDF("doc_id", "text")
    def pairs() = AdmissionIndex.probePairs(copy, dir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs() == Set((2001L, 1001L)))
    assert(AdmissionIndex.maybeCompact(spark, dir, maxGens = 1))
    assert(AdmissionIndex.liveGenerations(dir) == 0)
    assert(pairs() == Set((2001L, 1001L)),
      "text compaction changed the probe answer")
  }

  test("maybeCompact skips the maintenance slot (returns false) when " +
    "the root marker is held by a concurrent compaction window") {
    val base = (0 until 40).map(i =>
      (2L * i, s"unique base document number $i about topic t$i"))
      .toDF("doc_id", "text")
    val dir = freshDir()
    AdmissionIndex.buildFpIndex(base, dir)
    val novel = Seq((1001L, "brand new admitted document"))
      .toDF("doc_id", "text")
    AdmissionIndex.fpAppendGeneration(novel, dir, "marker-held-g0")
    val marker = java.nio.file.Paths.get(dir, "_GRAFT_INDEX_OK")
    val bytes = java.nio.file.Files.readAllBytes(marker)
    java.nio.file.Files.delete(marker)
    assert(!AdmissionIndex.maybeCompact(spark, dir, maxGens = 1),
      "a missing root marker must skip, not fail, the slot")
    assert(AdmissionIndex.liveGenerations(dir) == 1,
      "the skipped slot must leave generations untouched")
    java.nio.file.Files.write(marker, bytes)
    assert(AdmissionIndex.maybeCompact(spark, dir, maxGens = 1),
      "the next slot (window closed) must compact")
    assert(AdmissionIndex.liveGenerations(dir) == 0)
  }

  test("batch lifecycle entry points run the K* maintenance cadence by " +
    "default (r14 verdict item 3): a generation-heavy index compacts " +
    "INSIDE admissionLifecycle with the answer unchanged — " +
    "compaction-invisibility extended to the batch ingest loop") {
    val sfDir = java.nio.file.Files
      .createTempDirectory("graft-batch-cadence").toString
    Seq(
      // base (≡ 0 mod 3)
      (3L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"),
      (6L, "one two three four five six seven eight nine ten eleven twelve"),
      // batch1 (≡ 1): 4 near-dups base 3 → rejected; 7 novel → folded
      (4L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo limb"),
      (7L, "council of ancient mariners charted seven unknown seas beyond the horizon line"),
      // batch2 (≡ 2): 5 near-dups base 6; 8 near-dups ADMITTED 7; 11 novel
      (5L, "one two three four five six seven eight nine ten eleven twelves"),
      (8L, "council of ancient mariners charted seven unknown seas beyond the horizon lines"),
      (11L, "completely different topic discussing culinary techniques and pastry recipes today")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    def run() = AdmissionIndex.admissionLifecycle(spark, sfDir)
      .select("batch_doc", "base_doc").as[(Long, Long)].collect().toSeq
    val first = run()
    assert(first == Seq((5L, 6L), (8L, 7L)), first.toString)
    val dir = AdmissionIndex.ensureIndex(spark, sfDir, baseMod = 3)
    assert(AdmissionIndex.liveGenerations(dir) == 1,
      "the lifecycle fold must have committed one generation")
    // a long-running batch ingest loop: more committed generations of
    // NOVEL docs (nothing batch2 could match) bring the index exactly
    // to the deployed cadence
    (0 until AdmissionIndex.DefaultCompactAfterGens - 1).foreach { g =>
      AdmissionIndex.appendGeneration(
        Seq((9000L + g, s"novel ingest generation $g with tokens " +
          s"g${g}a g${g}b g${g}c g${g}d g${g}e g${g}f"))
          .toDF("doc_id", "text"), dir, s"cadence-batch-g$g")
    }
    assert(AdmissionIndex.liveGenerations(dir) ==
      AdmissionIndex.DefaultCompactAfterGens)
    // the next lifecycle call compacts inside the entry point — no
    // caller-side maintenance — and the probe answer is unchanged
    assert(run() == first,
      "compaction inside the batch lifecycle changed the answer")
    assert(AdmissionIndex.liveGenerations(dir) == 0,
      "the batch entry point must fire the default cadence itself")
  }
}
