package graft

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.GenerationStore.deleteRec
import Harness.timed

/** Scale evidence for the persisted admission index (q133): per-ingest
  * probe cost must stay ~flat while the BASE corpus grows 10× → 100×,
  * because the probe's work is O(batch + touched buckets) — the base is
  * never re-shingled or re-signed. The one-time index build (the
  * amortized stage) is measured alongside so the contrast is explicit:
  * build_sec is what q130-style per-ingest admission pays EVERY ingest
  * (it re-signs the base each call — the 174 s reading at 100× in
  * BENCH_SF10_hot_r09.json); probe_sec is what the persisted index
  * pays.
  *
  * The batch has FIXED size and matched content across base sizes: a
  * deterministic 5,000-doc sample of each base's docs, one token
  * appended (a guaranteed near-dup of its source), ids remapped into a
  * disjoint odd range. Fixed size isolates the base-side dependence
  * under test; the planted dups force the candidate + verify stages to
  * do real work (a batch with zero matches would measure only the band
  * scan). A sweep where the batch grew with the corpus would conflate
  * batch-side linear work with base-side cost.
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.AdmissionSweep"
  * Writes one JSON line per base (stdout + ADMISSION_SWEEP.json):
  * build once, then two probes (the min is the warm per-ingest cost —
  * same best-of-2 estimator as Bench, VARIANCE.md).
  *
  * SPARK_GRAFT_SWEEP_MODE=emb runs the EMBEDDING index's twin sweep
  * (q135): the documents scale fixtures have no large vector tables
  * (the exact-quadratic q28 tier bounds them, TESTDATA.md), so the
  * bases are generated in-session — n deterministic 64-dim vectors
  * (sin-derived, no RNG) at n = 50k / 150k / 500k — with a fixed
  * 5k-vector probe batch of exact copies of base vectors (guaranteed
  * rejects; cell containment makes them found-by-construction). */
object AdmissionSweep {
  def main(args: Array[String]): Unit = {
    val out = sys.env.getOrElse("SPARK_GRAFT_SWEEP_OUT", "ADMISSION_SWEEP.json")
    val bases = if (args.nonEmpty) args.toSeq else Seq(
      "/root/repo/scaledata/sf1skew",
      "/root/repo/scaledata/sf3skew",
      "/root/repo/scaledata/sf10skew")
    val spark = Harness.session()
    val fixture = args.headOption.getOrElse(bases.last)
    sys.env.get("SPARK_GRAFT_SWEEP_MODE") match {
      case Some("embgens") => embGensSweep(spark, out)
      case Some("emb") => embSweep(spark, out)
      case Some("gens") => gensSweep(spark, out, bases.head)
      case Some("fdchunk") => fdChunkSweep(spark, out, fixture)
      case Some("chunk") => chunkSweep(spark, out, fixture)
      case Some("fdlife") => fdLifeSweep(spark, out, bases.head)
      case Some("fd") => fdSweep(spark, out, bases)
      case _ => baseSweep(spark, out, bases)
    }
    spark.stop()
  }

  /** The default sweep: q133's build once and best-of-2 probe per base. */
  private def baseSweep(spark: SparkSession, out: String,
                        bases: Seq[String]): Unit = {
    // optional square bucket-count override (e.g. 1024): the sweep then
    // measures the probe on a non-default layout — the sizing-policy
    // robustness artifact (r10 verdict item 5)
    val bkOverride = sys.env.get("SPARK_GRAFT_SWEEP_BUCKETS")
      .map(_.toInt).map(n => (n, n))
    val BatchDocs = 5000L
    // deterministic fixed-size probe batch derived from a base: the
    // lowest-id BatchDocs even docs, one token appended (guaranteed
    // near-dup of the source at default threshold), remapped to a
    // disjoint odd id range so batch ids never collide with base ids
    def batchFor(dir: String) = Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 0)
      .orderBy(col("doc_id")).limit(BatchDocs.toInt)
      .withColumn("doc_id", col("doc_id") * 2 + 10000000001L)
      .withColumn("text", concat(col("text"), lit(" sweepmarker")))
      .persist()
    // warm-up: pay JIT/codegen once against the small driver fixture so
    // the FIRST measured build is not inflated by one-time session cost
    locally {
      val wdir = graft.operators.AdmissionIndex
        .ensureIndex(spark, "/root/testdata/sf0.01")
      val wb = batchFor("/root/testdata/sf0.01")
      graft.operators.AdmissionIndex.probePairs(wb, wdir, 0.5).unpersist(false)
      wb.unpersist(false)
      ()
    }
    val lines = bases.map { dir =>
      val baseDocs = Tables.documents(spark, dir)
        .filter(col("doc_id") % 2 === 0).count()
      val batch = batchFor(dir)
      val batchRows = batch.count()
      // build from scratch even if a previous sweep left an index (the
      // build number must be the real one-time cost, not a cache hit)
      val idxDir = graft.operators.AdmissionIndex.indexDirFor(
        s"$dir/documents.parquet", 0.5, 0.1, bkOverride)
      deleteRec(Paths.get(idxDir))
      val (_, buildSec) = timed(
        graft.operators.AdmissionIndex.ensureIndex(spark, dir,
          buckets = bkOverride))
      def probeOnce(): Long = {
        val p = graft.operators.AdmissionIndex
          .probePairs(batch, idxDir, 0.5)
        val n = p.count()
        p.unpersist(false)
        n
      }
      val (pairs1, probe1) = timed(probeOnce())
      val (_, probe2) = timed(probeOnce())
      val probeSec = math.min(probe1, probe2)
      batch.unpersist(false)
      val bk = bkOverride.map { case (b, d) => s""","band_buckets":$b,"doc_buckets":$d""" }.getOrElse("")
      val line = f"""{"base":"$dir","base_docs":$baseDocs,"batch_docs":$batchRows,"build_sec":$buildSec%.2f,"probe_sec":$probeSec%.2f,"probe_runs":[$probe1%.2f,$probe2%.2f],"pairs":$pairs1$bk}"""
      println(line)
      line
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (lines.mkString("[", ",\n", "]") + "\n").getBytes("UTF-8"))
    ()
  }

  /** Composed-LIFECYCLE sweep (the q143 ingest loop, end to end): the
    * FD sweep measures the composed probe vs base size; this one
    * measures the full production loop — probe + three-tier fold —
    * per ingest round at a FIXED base, with fp/minhash delta
    * generations accumulating (the emb fold runs too, but the fixture
    * only has vectors for the lowest ids, so its generation axis is
    * the EMBGENS sweep's job), then the TRIPLE compaction timed and
    * the probe re-measured single-root. Per-round mixed batch on the
    * 10× fixture's even-doc base: 1000 exact copies (tier-1 rejects
    * every round), 1000 one-token near-dups (tier-2 rejects), and
    * 1000 round-unique ORIGINAL odd docs (mostly admitted → folded;
    * their ids stay real so whatever vectors exist keep tier 3
    * scoring). The lifecycle owns famTag "fdlife" so the sweep never
    * couples to the q139/fdSweep index family. */
  private def fdLifeSweep(spark: SparkSession, out: String,
                          baseDir: String): Unit = {
    val AI = graft.operators.AdmissionIndex
    val Rounds = 16
    val record = Set(1, 2, 4, 8, 16)
    def batchFor(dir: String, round: Int) = {
      val docs = graft.Tables.documents(spark, dir)
      val evens = docs.filter(col("doc_id") % 2 === 0)
        .orderBy(col("doc_id")).limit(1000)
      val exact = evens.select(
        (col("doc_id") * 2 + 60000000001L + round.toLong * 1000000L).as("doc_id"),
        col("text"))
      val near = evens.select(
        (col("doc_id") * 2 + 70000000001L + round.toLong * 1000000L).as("doc_id"),
        concat(col("text"), lit(s" fdlife$round")).as("text"))
      // round-unique slice of the odd originals, real ids (vectors
      // where the fixture has them); window k*1000..k*1000+999
      val fresh = docs.filter(col("doc_id") % 2 === 1)
        .orderBy(col("doc_id"))
        .limit(round * 1000).orderBy(col("doc_id").desc).limit(1000)
        .select(col("doc_id"), col("text"))
      exact.unionByName(near).unionByName(fresh)
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")))
        .persist()
    }
    def ensureAll(dir: String) = (
      AI.ensureIndex(spark, dir, famTag = "fdlife"),
      AI.ensureEmbIndex(spark, dir, famTag = "fdlife"),
      AI.ensureFpIndex(spark, dir, famTag = "fdlife"))
    // JIT/codegen warm-up against the small driver fixture
    locally {
      val (wd, we, wf) = ensureAll("/root/testdata/sf0.01")
      val wb = batchFor("/root/testdata/sf0.01", 0)
      AI.frontDoorOn(wb.limit(300), spark, "/root/testdata/sf0.01",
        wd, we, wf, 0.5, AI.EmbThreshold, AI.EmbNProbe)
        .queryExecution.toRdd.count()
      wb.unpersist(false)
      ()
    }
    // fresh family: builds must be real one-time costs, and prior
    // sweep generations must not leak into round 1
    Seq(
      AI.textIndexDirFor(s"$baseDir/documents.parquet",
        graft.operators.Dedup.DefaultThreshold,
        graft.operators.Dedup.DefaultMaxDfFrac, famTag = "fdlife"),
      AI.embIndexDirFor(s"$baseDir/embeddings.parquet", AI.EmbCentroids,
        2, "fdlife"),
      AI.fpIndexDirFor(s"$baseDir/documents.parquet", 2, "fdlife"))
      .foreach(d => deleteRec(Paths.get(d)))
    val (dirs, buildSec) = timed(ensureAll(baseDir))
    val (dir, edir, fdir) = dirs
    val baseDocs = graft.Tables.documents(spark, baseDir)
      .filter(col("doc_id") % 2 === 0).count()
    var admittedTotal = 0L
    val roundLines = (1 to Rounds).flatMap { round =>
      val batch = batchFor(baseDir, round)
      var lastAtt: org.apache.spark.sql.DataFrame = null
      def probeOnce(): Map[String, Long] = {
        lastAtt = AI.frontDoorOn(batch, spark, baseDir, dir, edir, fdir,
          0.5, AI.EmbThreshold, AI.EmbNProbe).localCheckpoint(true)
        lastAtt.groupBy(col("tier")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val (tiers, probe1) = timed(probeOnce())
      val probeSec =
        if (record(round)) math.min(probe1, timed(probeOnce())._2)
        else probe1
      val admitted = lastAtt.filter(col("tier") === lit("admitted"))
        .select(col("doc_id"))
      val genKey = s"fdlife-$round"
      val (_, foldSec) = timed {
        AI.fpAppendGeneration(
          batch.join(admitted, Seq("doc_id"), "left_semi"), fdir, genKey)
        AI.appendGeneration(
          batch.join(admitted, Seq("doc_id"), "left_semi"), dir, genKey, 0.5)
        AI.embAppendGeneration(
          graft.Tables.embeddings(spark, baseDir)
            .join(admitted, col("vec_id") === admitted("doc_id"), "left_semi"),
          edir, genKey)
      }
      admittedTotal += tiers.getOrElse("admitted", 0L)
      batch.unpersist(false)
      if (record(round)) {
        val tierJson = tiers.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString(",")
        val line = f"""{"gens_before_probe":${round - 1},"probe_sec":$probeSec%.2f,"fold_sec":$foldSec%.2f,"tiers":{$tierJson},"admitted_total":$admittedTotal}"""
        println(line)
        Some(line)
      } else None
    }
    // the TRIPLE maintenance: all three tiers compact, probe re-measured
    val (_, compactSec) = timed {
      AI.fpCompactIndex(spark, fdir)
      AI.compactIndex(spark, dir)
      AI.embCompactIndex(spark, edir)
    }
    val batchF = batchFor(baseDir, Rounds + 1)
    def probeF(): Long = AI.frontDoorOn(batchF, spark, baseDir, dir, edir,
      fdir, 0.5, AI.EmbThreshold, AI.EmbNProbe)
      .queryExecution.toRdd.count()
    val (_, p1) = timed(probeF())
    val (_, p2) = timed(probeF())
    batchF.unpersist(false)
    val tail = f"""{"compact_sec":$compactSec%.2f,"probe_after_compact_sec":${math.min(p1, p2)}%.2f,"gens_after_compact":0}"""
    println(tail)
    val json = s"""{"base":"$baseDir","base_docs":$baseDocs,"build_sec":${f"$buildSec%.2f"},"rounds":[${roundLines.mkString(",\n")}],
                  |"after_compact":$tail}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    ()
  }

  /** Front-door sweep: per-ingest cost of the COMPOSED three-tier gate
    * (q139's `frontDoorBatch`) vs base size, fixed mixed batch — the
    * capstone flatness artifact: if each tier's persisted probe is
    * O(batch + touched buckets/cells), the composition must be too.
    * Batch (fixed size across bases): 2000 exact copies of base docs
    * (tier-1 rejects), 2000 one-token near-dups (tier-2 rejects), and
    * 1000 ORIGINAL odd docs kept under their real ids so their vectors
    * exist and tier 3 does real scoring work. Build (all three indexes
    * from scratch) is timed alongside as the amortized contrast. */
  /** Chunked-micro-batch sweep for the q134 stateless near-dup probe at
    * the 100× fixture (r12 verdict item 3): the committed 508.6 s /
    * 2.6 GB-shuffle number fed the ENTIRE 250k-doc odd half as ONE
    * micro-batch — the worst-case bound, not the operating point. A
    * real stream chunks its input, so this measures the SAME total
    * probe (identical pair SET, checksum-asserted) split into k
    * xxhash64(doc_id) chunks for k ∈ {1, 4, 16, 64} — the r14
    * DEPLOYED chunk assignment ([[graft.operators.AdmissionIndex
    * .hashChunks]]; the r13 sweep used contiguous id ranges, whose
    * k = 16 tail read 25–48 s vs an 8 s median because the skewed
    * fixture's heavy docs cluster in id ranges) — each chunk through
    * the production per-micro-batch form [[graft.operators
    * .AdmissionIndex.pairsVsIndexPruned]], exactly one
    * [[graft.operators.AdmissionIndex.startNearDupStream]]
    * foreachBatch body. The k = 1 point re-measures the single-batch
    * bound in-session so the curve is self-contained. Per-chunk
    * seconds are recorded so tail behavior is visible.
    *
    * Usage: SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=64g \
    *   SPARK_GRAFT_SWEEP_MODE=chunk sbt "runMain graft.AdmissionSweep" */
  private def chunkSweep(spark: SparkSession, out: String,
                         sfDir: String): Unit = {
    val AI = graft.operators.AdmissionIndex
    // warm-up: JIT/codegen once, outside the timings
    locally {
      val wdir = AI.ensureIndex(spark, "/root/testdata/sf0.01")
      val wb = graft.Tables.documents(spark, "/root/testdata/sf0.01")
        .filter(col("doc_id") % 2 === 1)
      AI.pairsVsIndexPruned(wb, wdir).count()
      ()
    }
    val (dir, buildSec) = timed(AI.ensureIndex(spark, sfDir))
    val batch = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBatch = batch.count()
    val rows = Seq(1, 4, 16, 64).map { k =>
      System.gc()
      var pairsTotal = 0L
      var pairsCksum = 0L
      val times = (0 until k).map { i =>
        // the deployed assignment (AdmissionIndex.hashChunks): hash,
        // not range, so heavy docs spread evenly across chunks
        val chunk = batch
          .filter(pmod(xxhash64(col("doc_id")), lit(k.toLong)) === i)
        // order-independent SET identity per chunk: (count, XOR of
        // per-pair hashes — a SUM of full-range xxhash64 values
        // overflows Long under ANSI; XOR is wrap-free and the chunks
        // are disjoint, so XOR-of-XORs ≡ the whole set's XOR) —
        // pairsVsIndexPruned materializes via localCheckpoint, so the
        // extra agg reads the checkpointed rows, adding nothing to
        // the probe being timed
        val ((p, ck), sec) = timed {
          val r = AI.pairsVsIndexPruned(chunk, dir)
            .agg(count(lit(1)),
              expr("bit_xor(xxhash64(batch_doc, base_doc))"))
            .head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
        pairsTotal += p
        pairsCksum ^= ck
        sec
      }
      val perChunk = times.map(t => f"$t%.2f").mkString("[", ",", "]")
      val line = f"""{"k":$k,"total_probe_sec":${times.sum}%.2f,"max_chunk_sec":${times.max}%.2f,"pairs":$pairsTotal,"pairs_cksum":$pairsCksum,"per_chunk_sec":$perChunk}"""
      println(line)
      (line, (pairsTotal, pairsCksum))
    }
    // chunking must not change the answer: the probe is stateless and
    // per-doc independent, so every k yields the identical pair SET —
    // asserted as (count, order-independent xxhash64 sum), so
    // compensating errors (a pair lost in one chunk, a duplicate
    // gained in another) cannot pass the way a bare count could
    require(rows.map(_._2).distinct.size == 1,
      s"chunked probes disagree on pair sets (count, cksum): ${rows.map(_._2)}")
    // r15: the DEPLOYED form — [[AdmissionIndex.pairsVsIndexChunked]]
    // with the shared touched-bucket band manifest and overlapped
    // chunk verify rounds — at driver-pool widths 1/2/3/4 over the
    // default ~15k operating point. par = 1 isolates the manifest
    // restructure; 2–4 add the overlap (r14 verdict items 1 + 2). The
    // pair set must STILL equal every serial k-sweep round's.
    val depRows = Seq(1, 2, 3, 4).map { par =>
      System.gc()
      val ((p, ck), sec) = timed {
        val r = AI.pairsVsIndexChunked(batch, dir, probeParallelism = par)
          .agg(count(lit(1)),
            expr("bit_xor(xxhash64(batch_doc, base_doc))"))
          .head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      val line =
        f"""{"par":$par,"deployed_sec":$sec%.2f,"pairs":$p,"pairs_cksum":$ck}"""
      println(line)
      (line, (p, ck))
    }
    require((rows.map(_._2) ++ depRows.map(_._2)).distinct.size == 1,
      "deployed chunked probe disagrees with the serial sweep on the " +
        s"pair set: sweep=${rows.head._2} deployed=${depRows.map(_._2)}")
    batch.unpersist(false)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (s"""{"base":"$sfDir","batch_docs":$nBatch,""" +
        f""""build_sec":$buildSec%.2f,""" +
        s""""rounds":[${rows.map(_._1).mkString(",\n")}],""" +
        s""""deployed":[${depRows.map(_._1).mkString(",\n")}]}""" +
        "\n").getBytes("UTF-8"))
    ()
  }

  /** Deployed COMPOSED front-door probe at the 100× fixture — the r15
    * verdict item-1 restructure measured in place: the full odd half
    * (≈250k docs) through [[graft.operators.AdmissionIndex.frontDoorOn]]
    * — tiers 1/3 whole-batch (narrow pruned joins), tier 2 through the
    * shared touched-bucket manifest with verify rounds overlapped from
    * the bounded driver pool — at pool widths 1–4, plus the SINGLE-BATCH
    * bound (maxDocsPerBatch = ∞, the unchunked worst case) for the same
    * contrast the q134 chunk sweep carries. Attribution identity is
    * asserted at every point as (rows, order-independent XOR of per-row
    * hashes): the restructure must not move a single (doc, tier,
    * match_id) row. Indexes are the default mod-2 family, ensured once
    * (warm build is fine — probe cost is the subject; the build number
    * lives in ADMISSION_SWEEP_FD).
    *
    * Usage: SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=64g \
    *   SPARK_GRAFT_SWEEP_MODE=fdchunk sbt "runMain graft.AdmissionSweep" */
  private def fdChunkSweep(spark: SparkSession, out: String,
                           sfDir: String): Unit = {
    val AI = graft.operators.AdmissionIndex
    // warm-up: JIT/codegen once against the small driver fixture
    locally {
      val wdocs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      AI.frontDoorBatch(wdocs.filter(col("doc_id") % 2 === 1).limit(300),
        spark, "/root/testdata/sf0.01")
        .queryExecution.toRdd.count()
      ()
    }
    val (dirs, ensureSec) = timed((
      AI.ensureIndex(spark, sfDir),
      AI.ensureEmbIndex(spark, sfDir),
      AI.ensureFpIndex(spark, sfDir)))
    val (dir, edir, fdir) = dirs
    val batch = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBatch = batch.count()
    def measure(maxDocs: Long, par: Int): ((Long, Long), Double) = {
      System.gc()
      timed {
        val att = AI.frontDoorOn(batch, spark, sfDir, dir, edir, fdir,
          graft.operators.Dedup.DefaultThreshold, AI.EmbThreshold,
          AI.EmbNProbe, maxDocsPerBatch = maxDocs, probeParallelism = par)
        val r = att
          .agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id, tier, match_id))"))
          .head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    }
    // SPARK_GRAFT_SWEEP_DEPLOYED_ONLY=1: stretch-scale form — measure
    // the deployed path at pool widths {1, default} only and skip the
    // single-batch / serial baselines (at 300× the serial form alone
    // costs tens of minutes and the unbounded single plan enters the
    // spill regime the deployed default exists to avoid; the 100×
    // artifact carries the three-way contrast)
    val deployedOnly =
      sys.env.get("SPARK_GRAFT_SWEEP_DEPLOYED_ONLY").contains("1")
    // optional operating-point axis (deployed-only form): comma list of
    // maxDocsPerBatch values, each measured at the default pool width —
    // "is the measured ~15k point still the right chunk size when the
    // corpus is 3x the fixture it was measured on?"
    val maxDocsAxis = sys.env.get("SPARK_GRAFT_SWEEP_MAXDOCS")
      .map(_.split(",").toSeq.map(_.trim.toLong))
      .getOrElse(Seq(AI.DefaultMaxDocsPerBatch))
    // a multi-point maxDocs axis measures chunk SIZING, not pool width:
    // run it at the default width only
    val pars =
      if (maxDocsAxis.size > 1) Seq(3)
      else if (deployedOnly) Seq(1, 3)
      else Seq(1, 2, 3, 4)
    val depRows = (for {
      maxDocs <- maxDocsAxis
      par <- pars
    } yield {
      val ((rows, ck), sec) = measure(maxDocs, par)
      val line =
        f"""{"par":$par,"max_docs":$maxDocs,"deployed_sec":$sec%.2f,"att_rows":$rows,"att_cksum":$ck}"""
      println(line)
      (line, (rows, ck))
    }).toList
    if (deployedOnly) {
      require(depRows.map(_._2).distinct.size == 1,
        "front-door chunked probe moved attribution rows across pool " +
          s"widths: ${depRows.map(_._2)}")
      batch.unpersist(false)
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (s"""{"base":"$sfDir","batch_docs":$nBatch,""" +
          f""""ensure_sec":$ensureSec%.2f,""" +
          s""""deployed":[${depRows.map(_._1).mkString(",\n")}]}""" +
          "\n").getBytes("UTF-8"))
      return
    }
    // the single-batch bound: tier-2 verify unchunked over the whole
    // odd half — the memory-UNBOUNDED regime (verify/cand width grows
    // with the whole batch's candidate volume; fits on this box,
    // cannot be promised at an arbitrary micro-batch)
    val ((rowsS, ckS), secS) = measure(Long.MaxValue, 1)
    val single =
      f"""{"single_batch_sec":$secS%.2f,"att_rows":$rowsS,"att_cksum":$ckS}"""
    println(single)
    // the r14 ARCHITECTURE for contrast: every tier probed
    // chunk-by-chunk (hashChunks × the whole three-tier probe),
    // strictly serial — exactly what probeStageFold ran before the
    // restructure (17 fp probes + 17 signs + 17 band-bucket scans +
    // 17 IVF probes instead of 1 + 1 + 1-manifest + 1)
    val ((rowsR, ckR), secR): ((Long, Long), Double) = {
      System.gc()
      timed {
        val atts = AI.hashChunks(batch, AI.DefaultMaxDocsPerBatch)
          .map(c => AI.frontDoorOn(c, spark, sfDir, dir, edir, fdir,
            graft.operators.Dedup.DefaultThreshold, AI.EmbThreshold,
            AI.EmbNProbe, maxDocsPerBatch = Long.MaxValue))
        val r = atts.reduce(_.unionByName(_))
          .agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id, tier, match_id))"))
          .head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    }
    val serial =
      f"""{"r14_serial_per_chunk_sec":$secR%.2f,"att_rows":$rowsR,"att_cksum":$ckR}"""
    println(serial)
    require((depRows.map(_._2) ++ Seq((rowsS, ckS), (rowsR, ckR)))
        .distinct.size == 1,
      "front-door chunked probe moved attribution rows: " +
        s"deployed=${depRows.map(_._2)} single=${(rowsS, ckS)} " +
        s"serial=${(rowsR, ckR)}")
    batch.unpersist(false)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (s"""{"base":"$sfDir","batch_docs":$nBatch,""" +
        f""""ensure_sec":$ensureSec%.2f,""" +
        s""""deployed":[${depRows.map(_._1).mkString(",\n")}],""" +
        s""""single":$single,""" +
        s""""r14_serial":$serial}""" + "\n").getBytes("UTF-8"))
    ()
  }

  private def fdSweep(spark: SparkSession, out: String,
                      bases: Seq[String]): Unit = {
    val AI = graft.operators.AdmissionIndex
    def batchFor(dir: String) = {
      val docs = graft.Tables.documents(spark, dir)
      val evens = docs.filter(col("doc_id") % 2 === 0)
        .orderBy(col("doc_id")).limit(2000)
      val exact = evens.select(
        (col("doc_id") * 2 + 40000000001L).as("doc_id"), col("text"))
      val near = evens.select(
        (col("doc_id") * 2 + 50000000001L).as("doc_id"),
        concat(col("text"), lit(" fdsweepmarker")).as("text"))
      val odds = docs.filter(col("doc_id") % 2 === 1)
        .orderBy(col("doc_id")).limit(1000)
        .select(col("doc_id"), col("text"))
      exact.unionByName(near).unionByName(odds)
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")))
        .persist()
    }
    // JIT/codegen warm-up outside the timings
    locally {
      val wb = batchFor("/root/testdata/sf0.01")
      graft.operators.AdmissionIndex
        .frontDoorBatch(wb.limit(300), spark, "/root/testdata/sf0.01")
        .queryExecution.toRdd.count()
      wb.unpersist(false)
      ()
    }
    val lines = bases.map { dir =>
      val baseDocs = graft.Tables.documents(spark, dir)
        .filter(col("doc_id") % 2 === 0).count()
      // fresh builds: real one-time cost, not marker hits
      Seq(AI.indexDirFor(s"$dir/documents.parquet", 0.5, 0.1),
          AI.embIndexDirFor(s"$dir/embeddings.parquet", AI.EmbCentroids),
          AI.fpIndexDirFor(s"$dir/documents.parquet"))
        .foreach(d => deleteRec(Paths.get(d)))
      val (_, buildSec) = timed {
        AI.ensureIndex(spark, dir)
        AI.ensureEmbIndex(spark, dir)
        AI.ensureFpIndex(spark, dir)
      }
      val batch = batchFor(dir)
      val batchRows = batch.count()
      def probeOnce() = AI.frontDoorBatch(batch, spark, dir)
        .groupBy(col("tier")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val (tiers, p1) = timed(probeOnce())
      val (_, p2) = timed(probeOnce())
      batch.unpersist(false)
      val tierJson = tiers.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      val line = f"""{"base":"$dir","base_docs":$baseDocs,"batch_docs":$batchRows,"build_sec":$buildSec%.2f,"probe_sec":${math.min(p1, p2)}%.2f,"probe_runs":[$p1%.2f,$p2%.2f],"tiers":{$tierJson}}"""
      println(line)
      line
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (lines.mkString("[", ",\n", "]") + "\n").getBytes("UTF-8"))
    ()
  }

  /** Generation-count sweep (r10 verdict item 3): the one admission
    * axis with no committed artifact was probe cost vs the NUMBER of
    * delta generations — [[graft.operators.GenerationStore.indexRoots]]
    * unions one scan branch per committed generation into every probe,
    * so N ingests without maintenance = N small parquet roots per
    * probe. Fixed base, fixed-shape per-round batch (1000 planted
    * near-dups of base docs → rejected every round, keeping the verify
    * stage honest; 1000 synthetic novel docs with round-unique token
    * streams → admitted and folded as generation k), probe timed at
    * every round. After the last round [[compactIndex]] runs, timed,
    * and the probe is re-measured on the single-root layout — the
    * artifact that sets the compaction cadence: compact when the
    * per-generation scan overhead crosses the compaction cost
    * amortized over the ingest interval. */
  private def gensSweep(spark: SparkSession, out: String,
                        baseDir: String): Unit = {
    val AI = graft.operators.AdmissionIndex
    val Rounds = 32
    val record = Set(1, 2, 4, 8, 16, 32)
    def batchFor(round: Int) = {
      val planted = Tables.documents(spark, baseDir)
        .filter(col("doc_id") % 2 === 0)
        .orderBy(col("doc_id")).limit(1000)
        .select(
          (col("doc_id") * 2 + 20000000001L + round.toLong * 1000000L).as("doc_id"),
          concat(col("text"), lit(s" gensweep$round")).as("text"))
      // 30 round-unique tokens per doc, stride 31 > token count so no
      // token repeats within a round; zero overlap with base or with
      // any other round's novel docs → always admitted
      val novel = spark.range(1000).select(
        (col("id") * 2 + 30000000001L + round.toLong * 1000000L).as("doc_id"),
        expr("concat_ws(' ', transform(sequence(0, 29), " +
          s"j -> concat('g$round', 'w', CAST(id * 31 + j AS STRING))))").as("text"))
      planted.unionByName(novel)
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")))
        .persist()
    }
    // fresh index (the build must be real, not a cache hit)
    val idxDir = AI.indexDirFor(s"$baseDir/documents.parquet", 0.5, 0.1)
    deleteRec(Paths.get(idxDir))
    // warm-up on the driver fixture (JIT/codegen outside the timings)
    locally {
      val wdir = AI.ensureIndex(spark, "/root/testdata/sf0.01")
      val wb = batchFor(0)
      AI.probePairs(wb.limit(200), wdir, 0.5).count()
      wb.unpersist(false)
      ()
    }
    val (_, buildSec) = timed(AI.ensureIndex(spark, baseDir))
    val baseDocs = Tables.documents(spark, baseDir)
      .filter(col("doc_id") % 2 === 0).count()
    var admittedTotal = 0L
    val roundLines = (1 to Rounds).flatMap { round =>
      val batch = batchFor(round)
      var lastProbe: org.apache.spark.sql.DataFrame = null
      def probeOnce(): Long = {
        lastProbe = AI.probePairs(batch, idxDir, 0.5)
        lastProbe.count()
      }
      val (pairs, probe1) = timed(probeOnce())
      // best-of-2 only at record rounds (the full per-round double
      // would double the sweep's wall clock for unreported points)
      val probeSec =
        if (record(round)) math.min(probe1, timed(probeOnce())._2)
        else probe1
      val rejected = lastProbe.select(col("a")).distinct()
      val rejectedDocs = rejected.count()
      val admitted = batch.join(broadcast(rejected),
        batch("doc_id") === rejected("a"), "left_anti")
      val (_, foldSec) = timed(
        AI.appendGeneration(admitted, idxDir, s"gens-sweep-$round", 0.5))
      admittedTotal += 2000L - rejectedDocs
      batch.unpersist(false)
      if (record(round)) {
        val line = f"""{"gens_before_probe":${round - 1},"probe_sec":$probeSec%.2f,"fold_sec":$foldSec%.2f,"pairs":$pairs,"admitted_total":$admittedTotal}"""
        println(line)
        Some(line)
      } else None
    }
    // maintenance: compact and re-measure on the single-root layout
    val (_, compactSec) = timed(AI.compactIndex(spark, idxDir))
    val batchF = batchFor(Rounds + 1)
    def probeF(): Long = AI.probePairs(batchF, idxDir, 0.5).count()
    val (pairsF, p1) = timed(probeF())
    val (_, p2) = timed(probeF())
    batchF.unpersist(false)
    val tail = f"""{"compact_sec":$compactSec%.2f,"probe_after_compact_sec":${math.min(p1, p2)}%.2f,"pairs":$pairsF,"gens_after_compact":0}"""
    println(tail)
    val json = s"""{"base":"$baseDir","base_docs":$baseDocs,"build_sec":${f"$buildSec%.2f"},"rounds":[${roundLines.mkString(",\n")}],
                  |"after_compact":$tail}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    ()
  }

  /** Embedding-index GENERATION sweep (r11 verdict item 2): the IVF
    * twin of [[gensSweep]] — probe cost vs the number of live emb
    * delta generations at a FIXED base, then [[AdmissionIndex
    * .embCompactIndex]] timed and the probe re-measured single-root.
    * ADMISSION_SWEEP_GENS measured the text tier's per-root overhead
    * (~0.29 s/root); this closes the same axis for the embedding tier
    * so its compaction cadence is evidence-backed, not inferred.
    * Fixture: the embSweep middle point (150k synthetic 64-dim
    * vectors, sqrt-n centroids); per-round batch = 1000 exact copies
    * of base vectors (rejected every round — the verify stage stays
    * honest) + 1000 novel vectors from a different functional family
    * with round-unique ids (admitted, folded as generation k). */
  private def embGensSweep(spark: SparkSession, out: String): Unit = {
    val AI = graft.operators.AdmissionIndex
    val dims = 64
    val baseN = 150000L
    val centroids = math.max(16, math.sqrt(baseN.toDouble).toInt)
    val Rounds = 32
    val record = Set(1, 2, 4, 8, 16, 32)
    def baseVecExpr =
      s"transform(sequence(0, ${dims - 1}), i -> CAST(sin(CAST(vec_id AS DOUBLE) * 13.0 + CAST(i AS DOUBLE) * 7.0) AS FLOAT))"
    def baseFor(n: Long) = spark.range(n).select((col("id") * 2).as("vec_id"))
      .withColumn("embedding", expr(baseVecExpr))
      .withColumn("label", lit("0"))
    def batchFor(round: Int) = {
      // exact copies of the 1000 lowest base vectors, remapped to a
      // disjoint id range (embedding computed BEFORE the remap)
      val planted = spark.range(1000).select((col("id") * 2).as("vec_id"))
        .withColumn("embedding", expr(baseVecExpr))
        .withColumn("vec_id",
          col("vec_id") + 10000000001L + round.toLong * 1000000L)
      // novel vectors must be novel vs the base AND vs every other
      // round's folds at threshold 0.99. Sin-arithmetic families are
      // USELESS for that: sin(a + θi) spans the 2-D subspace
      // {cos θi, sin θi} (all vectors on one circle — measured as
      // rejects=2000 and empty generations from round 2 on), and even
      // polynomial-exponent variants keep enough phase structure to
      // cross 0.99 (measured max cross-round cos 0.9988). Murmur3 per
      // (vec_id, component) is actually pseudo-random: pairwise cos
      // ~N(0, 1/64), max over the sweep's ~10⁸ pairs ≈ 0.5 ≪ 0.99
      val novel = spark.range(1000)
        .select((col("id") * 2 + 20000000001L + round.toLong * 1000000L)
          .as("vec_id"))
        .withColumn("embedding", expr(
          s"transform(sequence(0, ${dims - 1}), i -> CAST((hash(vec_id, i) % 10000) / 10000.0 AS FLOAT))"))
      planted.unionByName(novel).withColumn("label", lit("0")).persist()
    }
    // warm-up (JIT/codegen) against a tiny corpus
    locally {
      val wdir = java.nio.file.Files
        .createTempDirectory("graft-embgens-warm").toString + "/idx"
      AI.embBuildIndex(baseFor(2000), wdir, 16)
      val wb = batchFor(0)
      AI.embProbe(wb.limit(500), wdir, 0.99, 4).unpersist(false)
      wb.unpersist(false)
      ()
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft-embgens").toString + "/idx"
    val (_, buildSec) = timed(AI.embBuildIndex(baseFor(baseN), dir, centroids))
    var admittedTotal = 0L
    val roundLines = (1 to Rounds).flatMap { round =>
      val batch = batchFor(round)
      var lastProbe: org.apache.spark.sql.DataFrame = null
      def probeOnce(): Long = {
        lastProbe = AI.embProbe(batch, dir, 0.99, 4)
        lastProbe.count()
      }
      val (rejects, probe1) = timed(probeOnce())
      val probeSec =
        if (record(round)) math.min(probe1, timed(probeOnce())._2)
        else probe1
      val rejected = lastProbe.select(col("batch_vec")).distinct()
      val admitted = batch.join(broadcast(rejected),
        batch("vec_id") === rejected("batch_vec"), "left_anti")
      val (_, foldSec) = timed(
        AI.embAppendGeneration(admitted, dir, s"embgens-sweep-$round"))
      admittedTotal += 2000L - rejects
      batch.unpersist(false)
      if (record(round)) {
        val line = f"""{"gens_before_probe":${round - 1},"probe_sec":$probeSec%.2f,"fold_sec":$foldSec%.2f,"rejects":$rejects,"admitted_total":$admittedTotal}"""
        println(line)
        Some(line)
      } else None
    }
    val (_, compactSec) = timed(AI.embCompactIndex(spark, dir))
    val batchF = batchFor(Rounds + 1)
    def probeF(): Long = AI.embProbe(batchF, dir, 0.99, 4).count()
    val (rejF, p1) = timed(probeF())
    val (_, p2) = timed(probeF())
    batchF.unpersist(false)
    val tail = f"""{"compact_sec":$compactSec%.2f,"probe_after_compact_sec":${math.min(p1, p2)}%.2f,"rejects":$rejF,"gens_after_compact":0}"""
    println(tail)
    val json = s"""{"base_vecs":$baseN,"dims":$dims,"centroids":$centroids,"build_sec":${f"$buildSec%.2f"},"rounds":[${roundLines.mkString(",\n")}],
                  |"after_compact":$tail}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    ()
  }

  /** Embedding-index sweep (q135): synthetic deterministic vector
    * corpora, fixed-size probe batch, build-once + best-of-2 probes.
    * Centroids scale as ~sqrt(n) (the standard IVF sizing) so cell
    * population stays ~sqrt(n) — the probe's per-cell scan grows
    * sublinearly while the probed-cell COUNT stays nProbe. */
  private def embSweep(spark: SparkSession, out: String): Unit = {
    import spark.implicits._
    val dims = 64
    val BatchVecs = 5000
    def vecExpr =
      s"transform(sequence(0, ${dims - 1}), i -> CAST(sin(CAST(vec_id AS DOUBLE) * 13.0 + CAST(i AS DOUBLE) * 7.0) AS FLOAT))"
    def baseFor(n: Long) = spark.range(n).select(
        (col("id") * 2).as("vec_id"))
      .withColumn("embedding", expr(vecExpr))
      .withColumn("label", lit("0"))
    def batchFor() = spark.range(BatchVecs).select(
        (col("id") * 2).as("vec_id"))
      .withColumn("embedding", expr(vecExpr))
      // exact copy of an even base vector, remapped to a disjoint odd id
      .withColumn("vec_id", col("vec_id") + 10000000001L)
      .persist()
    // warm-up (JIT/codegen) against a tiny corpus
    locally {
      val wdir = java.nio.file.Files
        .createTempDirectory("graft-embsweep-warm").toString + "/idx"
      graft.operators.AdmissionIndex.embBuildIndex(baseFor(2000), wdir, 16)
      graft.operators.AdmissionIndex
        .embProbe(batchFor().limit(500), wdir, 0.99, 4).unpersist(false)
      ()
    }
    val batch = batchFor()
    val batchRows = batch.count()
    val lines = Seq(50000L, 150000L, 500000L).map { n =>
      val centroids = math.max(16, math.sqrt(n.toDouble).toInt)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-embsweep-$n").toString + "/idx"
      val (_, buildSec) = timed(
        graft.operators.AdmissionIndex.embBuildIndex(baseFor(n), dir, centroids))
      def probeOnce(): Long = {
        val p = graft.operators.AdmissionIndex.embProbe(batch, dir, 0.99, 4)
        val r = p.count()
        p.unpersist(false)
        r
      }
      val (pairs1, probe1) = timed(probeOnce())
      val (_, probe2) = timed(probeOnce())
      val line = f"""{"base_vecs":$n,"dims":$dims,"centroids":$centroids,"batch_vecs":$batchRows,"build_sec":$buildSec%.2f,"probe_sec":${math.min(probe1, probe2)}%.2f,"probe_runs":[$probe1%.2f,$probe2%.2f],"rejects":$pairs1}"""
      println(line)
      line
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (lines.mkString("[", ",\n", "]") + "\n").getBytes("UTF-8"))
    ()
  }
}
