package graft.operators

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The admission indexes' on-disk protocol ([[GenerationStore]]), pinned
  * byte for byte: the exact `_GRAFT_INDEX_OK` text of every marker kind
  * and the names of index, generation and staged dirs. A synthetic corpus in a temp dir
  * goes through every writer of all three tiers: the base builds, one
  * composed probe-stage-fold round, an empty fold, a compaction and a
  * sink batch. The genKey carries a quote, a backslash and a tab, so the
  * marker's JSON quoting is pinned too. */
class GenerationStoreSpec extends SparkSpec {
  import spark.implicits._
  private val AI = AdmissionIndex
  private val marker = "_GRAFT_INDEX_OK"

  private def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
  private def markerOf(dir: String): String = text(Paths.get(dir, marker))
  private def children(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.sorted

  /** 90 docs of 24 random words and one random 32-dim vector per doc. */
  private def corpus(): String = {
    val d = Files.createTempDirectory("graft-generation-store").toString
    val docs = (0L until 90L).map { id =>
      val r = new scala.util.Random(id)
      (id, Seq.fill(24)(s"w${r.nextInt(400)}").mkString(" "))
    }
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$d/documents.parquet")
    docs.map { case (id, _) =>
      val r = new scala.util.Random(1000 + id)
      (id, Seq.fill(32)(r.nextFloat() * 2 - 1), (id % 5).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("golden bytes: every marker kind and every dir name of the three " +
    "index tiers is unchanged") {
    val sfDir = corpus()
    val root = Files.createTempDirectory("graft-generation-store-idx").toString
    val (dir, edir, fdir) = (s"$root/text", s"$root/emb", s"$root/fp")
    val docs = graft.Tables.documents(spark, sfDir)
    val base = docs.filter(col("doc_id") % 3 === 0)
    AI.buildIndex(base, dir)
    AI.embBuildIndex(graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 3 === 0), edir)
    AI.buildFpIndex(base, fdir)
    val genKey = "golden|\"round\"\t1\\"
    val adir = AI.probeStageFold(docs.filter(col("doc_id") % 3 === 1), spark,
      sfDir, dir, edir, fdir, genKey, Dedup.DefaultThreshold,
      AI.EmbThreshold, AI.EmbNProbe)
    val gen = "ccc37f41bab2f3a4"
    val emptyKey = "golden|empty"
    AI.appendGeneration(docs.filter(lit(false)), dir, emptyKey)
    val textRoot = markerOf(dir)
    val live = Seq(dir, edir, fdir).map(d => markerOf(s"$d/delta/$gen"))
    AI.compactIndex(spark, dir)
    val demoted = markerOf(s"$dir/delta/$gen")
    val sunk = s"$root/sunk"
    AI.exactlyOnceParquetSink(sunk)(Seq((1L, 2L)).toDF("a", "b"), 7L)

    assert(textRoot ==
      "{\"threshold\":0.5,\"maxDfFrac\":0.1,\"b\":9,\"r\":2," +
        "\"bandBuckets\":16,\"docBuckets\":16,\"version\":3}\n")
    assert(markerOf(dir) == textRoot, "compaction must restore the root marker")
    assert(markerOf(edir) == "{\"kind\":\"emb\",\"centroids\":16,\"version\":3}\n")
    assert(markerOf(fdir) == "{\"fpBuckets\":16,\"version\":3}\n")
    val quoted = "\"golden|\\\"round\\\"\\t1\\\\\""
    assert(live == Seq(27, 27, 27).map(n =>
      s"{\"genKey\":$quoted,\"rows\":$n,\"version\":3}\n"))
    assert(markerOf(s"$dir/delta/697d461ec4160842") ==
      "{\"genKey\":\"golden|empty\",\"rows\":0,\"version\":3}\n")
    assert(demoted ==
      s"{\"genKey\":$quoted,\"rows\":0,\"compacted\":true,\"version\":3}\n")
    assert(adir == s"$dir/staged/$gen")
    assert(markerOf(adir) ==
      s"{\"genKey\":$quoted,\"staged\":true,\"version\":3}\n")
    assert(markerOf(s"$sunk/batch=7") ==
      "{\"batchId\":7,\"sink\":true,\"version\":3}\n")
    assert(children(s"$dir/delta") == Seq("697d461ec4160842", gen))
    assert(children(s"$edir/delta") == Seq(gen))
    assert(children(s"$fdir/delta") == Seq(gen))
    assert(children(s"$dir/staged") == Seq(gen))
    assert(children(sunk).filterNot(_ == ".tmp") == Seq("batch=7"))
    Seq(root, sfDir).foreach(d => rm(new java.io.File(d)))
  }

  test("the marker codec round-trips every quoted genKey it writes") {
    val dir = Files.createTempDirectory("graft-marker-codec").toString
    for (k <- Seq("plain", "q\"uote", "back\\slash", "tab\tnl\ncr\r",
                  "ctl\u0001\u001f", "unicode é ✓", "brace}, \"rows\":0")) {
      Files.write(Paths.get(dir, marker), GenerationStore.encode("genKey" -> k,
        "rows" -> 3L, "staged" -> true))
      assert(GenerationStore.readMarker(dir) ==
        Map("genKey" -> k, "rows" -> "3", "staged" -> "true", "version" -> "3"))
    }
    rm(new java.io.File(dir))
  }

  test("golden bytes: index dir names of every tier and parameterization") {
    val p = "/graft/golden/absent/documents.parquet"
    val e = "/graft/golden/absent/embeddings.parquet"
    def name(d: String) = Paths.get(d).getFileName.toString
    assert(Seq(
      AI.indexDirFor(p, 0.5, 0.2),
      AI.indexDirFor(p, 0.5, 0.2, Some((64, 32))),
      AI.textIndexDirFor(p, 0.5, 0.2, baseMod = 3),
      AI.textIndexDirFor(p, 0.5, 0.2, baseMod = 3, famTag = "fd"),
      AI.textIndexDirFor(p, 0.5, 0.2, famTag = "fds"),
      AI.embIndexDirFor(e, 16),
      AI.embIndexDirFor(e, 16, baseMod = 4, famTag = "fd"),
      AI.fpIndexDirFor(p),
      AI.fpIndexDirFor(p, baseMod = 3, famTag = "fd")).map(name) == Seq(
      "56e3b9b5b0ca-314996da-0d406f12b91d0c0c",
      "56e3b9b5b0ca-f378c606-991073865d17523d",
      "56e3b9b5b0ca-6c3188b3-264219e2e636e9b7",
      "56e3b9b5b0ca-f885ddb0-32e7772938fc502f",
      "56e3b9b5b0ca-8028208e-2b5f657e6c536138",
      "6d12d27c9e20-ac4f545c-bede1e662509b308",
      "6d12d27c9e20-a1575e97-2429359d94e7e8eb",
      "56e3b9b5b0ca-b0c94afb-cdde97438cb91b93",
      "56e3b9b5b0ca-a7e5e98a-67870808649f11e3"))
  }

  test("build locks are keyed by index family: ensuring two corpus " +
    "generations of one family leaves one lock entry") {
    val sfDir = corpus()
    val d1 = AI.ensureFpIndex(spark, sfDir)
    // a new corpus manifest is a new generation: same path and
    // parameters (same family), new staleness key (new dir)
    Files.write(Paths.get(sfDir, "documents.parquet", "_GRAFT_MANIFEST"),
      "generation 2".getBytes("UTF-8"))
    val d2 = AI.ensureFpIndex(spark, sfDir)
    assert(d1 != d2)
    val pathKey = Paths.get(d2).getFileName.toString.split("-")(0)
    assert(GenerationStore.lockedFamilies.filter(_.contains(pathKey)) ==
      Set(GenerationStore.familyOf(d2)))
    Seq(GenerationStore.indexRoot, s"${GenerationStore.indexRoot}/.pristine")
      .flatMap(r => Option(new java.io.File(r).listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith(pathKey + "-")).foreach(rm)
    rm(new java.io.File(sfDir))
  }

  // ---- publish(): the race-loser hand-back -------------------------

  test("publish race loser returns absorbed delta/staged generations " +
    "to the winning dest instead of deleting them") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-publish-race").toString
    val dest = java.nio.file.Paths.get(root, "idx")
    val tmp = java.nio.file.Paths.get(root, "tmp-build")
    // the winner's published dir: marker present, one delta of its own
    java.nio.file.Files.createDirectories(dest.resolve("delta/aaaa"))
    java.nio.file.Files.write(dest.resolve("_GRAFT_INDEX_OK"),
      "{\"v\":1}\n".getBytes("UTF-8"))
    java.nio.file.Files.write(
      dest.resolve("delta/aaaa").resolve("_GRAFT_INDEX_OK"),
      "{\"genKey\":\"a\",\"rows\":1}\n".getBytes("UTF-8"))
    // the loser's tmp: its own build output PLUS the delta/staged
    // subtrees it absorbed from the markerless root it replaced — one
    // generation the winner also has (skip) and one it does not (move)
    java.nio.file.Files.createDirectories(tmp.resolve("delta/aaaa"))
    java.nio.file.Files.createDirectories(tmp.resolve("delta/bbbb"))
    java.nio.file.Files.createDirectories(tmp.resolve("staged/cccc"))
    java.nio.file.Files.write(
      tmp.resolve("delta/bbbb").resolve("_GRAFT_INDEX_OK"),
      "{\"genKey\":\"b\",\"rows\":7}\n".getBytes("UTF-8"))
    java.nio.file.Files.write(
      tmp.resolve("staged/cccc").resolve("_GRAFT_INDEX_OK"),
      "{\"genKey\":\"c\",\"staged\":true}\n".getBytes("UTF-8"))
    java.nio.file.Files.write(tmp.resolve("_GRAFT_INDEX_OK"),
      "{\"v\":1}\n".getBytes("UTF-8"))
    // dest exists (the winner won the rename race) → the ATOMIC_MOVE
    // fails → the loser's catch branch must hand the subtrees back
    GenerationStore.publish(tmp.toString, dest.toString)
    assert(!java.nio.file.Files.exists(tmp), "loser tmp must be deleted")
    assert(java.nio.file.Files.exists(
      dest.resolve("delta/bbbb").resolve("_GRAFT_INDEX_OK")),
      "absorbed committed generation must reach the winner")
    assert(java.nio.file.Files.exists(
      dest.resolve("staged/cccc").resolve("_GRAFT_INDEX_OK")),
      "absorbed staged attribution must reach the winner")
    assert(java.nio.file.Files.exists(
      dest.resolve("delta/aaaa").resolve("_GRAFT_INDEX_OK")),
      "the winner's own generation must survive untouched")
  }

  test("publish rethrows a non-race FileSystemException (no winner " +
    "marker at dest) and keeps the fresh build instead of deleting it") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-publish-norace").toString
    val tmp = java.nio.file.Paths.get(root, "tmp-build")
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.write(tmp.resolve("_GRAFT_INDEX_OK"),
      "{\"v\":1}\n".getBytes("UTF-8"))
    // dest's PARENT is a regular file: createDirectories throws a
    // FileSystemException, and no winner marker can possibly exist —
    // the persistent-failure shape the loser path must NOT swallow
    val parentFile = java.nio.file.Paths.get(root, "parentfile")
    java.nio.file.Files.write(parentFile, "x".getBytes("UTF-8"))
    val dest = parentFile.resolve("idx")
    intercept[java.nio.file.FileSystemException] {
      GenerationStore.publish(tmp.toString, dest.toString)
    }
    assert(java.nio.file.Files.exists(tmp.resolve("_GRAFT_INDEX_OK")),
      "a non-race failure must leave the fresh build intact")
  }

  // ---- sweepStale(): reaping scratch dirs beside live builds ----------

  test("the stale-scratch sweep skips a scratch dir that a live build " +
    "publishes between the listing and the stat") {
    val root = Files.createTempDirectory("graft-sweep-race")
    val keep = root.resolve("aaaa-bbbb-cccc").toString
    val published = root.resolve("published")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // another family's builds: a scratch dir appears under the index
    // root's .tmp and is renamed away (published) right after
    val builder = new Thread(() =>
      try {
        while (!stop.get()) {
          val tmp = Paths.get(GenerationStore.scratchDir(
            GenerationStore.indexRoot, "sweep-race"))
          Files.createDirectories(tmp)
          Files.move(tmp, published)
          Files.delete(published)
        }
      } catch { case e: Throwable => failed.set(e) })
    builder.start()
    try (0 until 3000).foreach(_ => GenerationStore.sweepStale(keep))
    finally { stop.set(true); builder.join() }
    assert(failed.get() == null, s"the builder failed: ${failed.get()}")
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }
}
