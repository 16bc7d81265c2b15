package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The persisted admission index end-to-end: build → probe correctness
  * (including df-at-build-time hot-set semantics), partition pruning in
  * the probe plan, min-band stateless dedup ≡ distinct, and the
  * streaming replay (stream ≡ batch, zero state). */
class AdmissionIndexSpec extends SparkSpec {
  import spark.implicits._

  // even ids = base, odd = batch. 101/102 are near-dups (1 token delta
  // over 12 shingles); 103/104 similarly; 105 is novel; 107 shares ONLY
  // template text with 106 (every base doc carries the template, so the
  // footer's shingles are hot at maxDfFrac = 0.3 over the 4 base docs).
  private val template = "all rights reserved worldwide footer text here"
  private def corpus: DataFrame = {
    val mk = (id: Long, body: String) =>
      (id, s"$body $template")
    Seq(
      mk(102L, "the quick brown fox jumps over the lazy dog near a river bank today"),
      mk(101L, "the quick brown fox jumps over the lazy dog near a river bank now"),
      mk(104L, "pack my box with five dozen liquor jugs before the long journey south"),
      mk(103L, "pack my box with five dozen liquor jugs before the long journey north"),
      mk(106L, "completely unrelated base content about mountains and weather patterns"),
      mk(105L, "a totally novel batch document with no counterpart whatsoever in base"),
      (108L, s"short base doc $template"),
      // 107 is template-ONLY + filler: its real-content overlap with any
      // base doc is nil, so once the hot template shingles are filtered
      // it must NOT match anything
      (107L, s"$template filler tokens one two three four five six")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
  }

  private def freshDir(): String = {
    val d = java.nio.file.Files
      .createTempDirectory("graft-admission-spec").toString
    d + "/idx"
  }

  /** How many SQL executions `body` starts whose plan assigns probe
    * chunks (the chunk id is pmod(xxhash64(doc id), k); nothing else on
    * these paths hashes with xxhash64): non-zero exactly when a probe
    * took the chunked path. */
  private def chunkedExecutions(body: => Unit): Int = {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart
              if s.physicalPlanDescription.contains("xxhash64(") =>
            n.incrementAndGet(); ()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.graft.ListenerDrain.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  test("build + probe: near-dup batch docs match their base twin, novel " +
    "and template-only docs are admitted (hot set filters the template)") {
    // hot needs df > max(maxDfFrac·|base|, DfFloorDocs = 25): 33 base
    // docs all carrying the template clears the absolute floor
    val fillers = (0 until 30).map { i =>
      (200L + 2 * i, s"distinct filler body number $i with words w${i}a " +
        s"w${i}b w${i}c w${i}d about topic t$i $template")
    }
    val docs = (fillers ++ corpus.select("doc_id", "text")
      .as[(Long, String)].collect().toSeq)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val dir = freshDir()
    AdmissionIndex.buildIndex(base, dir, threshold = 0.5, maxDfFrac = 0.3)
    // the hot set persisted non-empty: the template's 5 interior
    // shingles sit in all 33 base docs, past the floor
    val hot = spark.read.parquet(s"$dir/hot").count()
    assert(hot >= 5, s"template shingles should be hot, got $hot")
    val pairs = AdmissionIndex.probePairs(batch, dir, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // 101↔102 and 103↔104 match on real content; 105 novel; 107's only
    // overlap is the filtered template → admitted
    assert(pairs == Set((101L, 102L), (103L, 104L)), pairs.toString)
  }

  test("df-at-build-time: the persisted hot set comes from the BASE only " +
    "(a batch-side template must not enter the statistics)") {
    // base has NO template; the batch repeats one sentence in every doc.
    // With base-only df the batch template is NOT hot, so 11/13 (same
    // filler + template) must still match each other's base twins 10/12.
    val batchTemplate = "batch side boilerplate repeated in every incoming doc"
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, s"alpha beta gamma delta epsilon zeta eta theta iota kappa $batchTemplate"),
      (12L, "one two three four five six seven eight nine ten eleven"),
      (13L, s"one two three four five six seven eight nine ten eleven $batchTemplate")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = freshDir()
    AdmissionIndex.buildIndex(docs.filter(col("doc_id") % 2 === 0), dir,
      threshold = 0.5, maxDfFrac = 0.3)
    assert(spark.read.parquet(s"$dir/hot").count() == 0L,
      "base has no template; hot set must be empty")
    val pairs = AdmissionIndex
      .probePairs(docs.filter(col("doc_id") % 2 === 1), dir, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((11L, 10L), (13L, 12L)), pairs.toString)
  }

  test("probe plan partition-prunes the persisted band scan (only the " +
    "batch's band buckets are read)") {
    val docs = corpus
    val dir = freshDir()
    AdmissionIndex.buildIndex(docs.filter(col("doc_id") % 2 === 0), dir,
      threshold = 0.5, maxDfFrac = 0.3)
    // one-doc batch: its 9 band keys hash into ≤9 of the 64 buckets —
    // the pruned scan must plan strictly fewer partitions than exist
    val one = docs.filter(col("doc_id") === 105L)
    // reconstruct the probe's pruned scan shape and check the physical
    // plan: an isin on the partition column must land in PartitionFilters
    // (metadata-only pruning, no data read from other buckets)
    val pruned = spark.read.parquet(s"$dir/bands")
      .filter(col("band_bucket").isin(0, 1, 2))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty)
    assert(scan.head.partitionFilters.nonEmpty,
      "band_bucket predicate must be a partition filter, not a data filter")
    // and the end-to-end probe still answers correctly for the one doc
    val pairs = AdmissionIndex.probePairs(one, dir, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.isEmpty, s"novel doc must not match: $pairs")
  }

  test("stateless min-band probe emits each verified pair exactly once " +
    "and equals the distinct() probe") {
    val docs = corpus
    val dir = freshDir()
    AdmissionIndex.buildIndex(docs.filter(col("doc_id") % 2 === 0), dir,
      threshold = 0.5, maxDfFrac = 0.3)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val streamShaped = AdmissionIndex.pairsVsIndex(batch, dir, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exactly once per pair (a near-dup pair matches in MANY of the 9
    // bands — identical docs match in all 9 — so a missing min-band
    // filter would emit duplicates here)
    assert(streamShaped.length == streamShaped.distinct.length,
      "pairs must be emitted exactly once")
    // the partition-pruned batch probe answers the same, once per pair
    val pruned = AdmissionIndex.probePairs(batch, dir, threshold = 0.5)
      .select(col("a"), col("b"), round(col("jac"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pruned.length == pruned.distinct.length,
      "the pruned probe must emit each pair once too")
    assert(streamShaped.toSet == pruned.toSet,
      s"${streamShaped.toSet} != ${pruned.toSet}")
  }

  test("pairsVsIndex runs as a Structured Streaming query (2 micro-" +
    "batches) with zero state rows, and stream ≡ batch") {
    val docs = corpus
    val dir = freshDir()
    AdmissionIndex.buildIndex(docs.filter(col("doc_id") % 2 === 0), dir,
      threshold = 0.5, maxDfFrac = 0.3)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val q = AdmissionIndex.pairsVsIndex(streamDocs, dir, threshold = 0.5)
      .writeStream.format("memory").queryName("neardup_admission_test")
      .outputMode("append").start()
    try {
      val batchRows = corpus.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      mem.addData(batchRows.take(2))
      q.processAllAvailable()
      mem.addData(batchRows.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("neardup_admission_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = AdmissionIndex
        .pairsVsIndex(corpus.filter(col("doc_id") % 2 === 1), dir, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(streamed.map(p => (p._1, p._2)) == Set((101L, 102L), (103L, 104L)))
      // zero streaming state: every stage is stateless (static-side
      // joins + narrow transforms)
      assert(q.lastProgress == null ||
        Option(q.lastProgress.stateOperators).forall(ops =>
          ops.isEmpty || ops.forall(_.numRowsTotal == 0L)))
    } finally q.stop()
  }

  test("embedding IVF index: an exact duplicate of a base vector always " +
    "probes its twin's cell (argmin identical) and is rejected with that " +
    "match; novel vectors are admitted; the cell scan partition-prunes") {
    val dims = 8
    // 40 deterministic base vectors (even ids) + 3 batch vectors (odd):
    // 101 duplicates base 20's vector exactly, 103 is novel (far from
    // every base direction), 105 duplicates base 34
    def vec(seed: Long) = Array.tabulate(dims)(i =>
      math.sin(seed * 13.0 + i * 7.0).toFloat)
    val base = (0 until 40).map(i => (2L * i, vec(2L * i), "0"))
    val batch = Seq(
      (101L, vec(20L), "0"),
      (103L, Array.tabulate(dims)(i => if (i == 0) 1e-4f else 0f), "0"),
      (105L, vec(34L), "0"))
    val dir = freshDir()
    AdmissionIndex.embBuildIndex(
      base.toDF("vec_id", "embedding", "label"), dir, centroids = 8)
    val out = AdmissionIndex.embProbe(
      batch.toDF("vec_id", "embedding", "label"), dir,
      threshold = 0.99, nProbe = 2)
      .select("batch_vec", "base_vec").as[(Long, Long)].collect().toSet
    assert(out == Set((101L, 20L), (105L, 34L)), out.toString)
    // partition pruning: a cell predicate on the persisted layout must
    // be a PartitionFilter (metadata-only), not a data filter
    val pruned = spark.read.parquet(s"$dir/cells")
      .filter(col("cell").isin(0, 1))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty && scan.head.partitionFilters.nonEmpty)
  }

  test("embPairsVsIndex runs as a Structured Streaming query (2 micro-" +
    "batches) with zero state rows, and stream ≡ batch") {
    val dims = 8
    def vec(seed: Long) = Array.tabulate(dims)(i =>
      math.sin(seed * 13.0 + i * 7.0).toFloat)
    val base = (0 until 40).map(i => (2L * i, vec(2L * i), "0"))
    val batch = Seq(
      (101L, vec(20L), "0"),
      (103L, Array.tabulate(dims)(i => if (i == 0) 1e-4f else 0f), "0"),
      (105L, vec(34L), "0"))
    val dir = freshDir()
    AdmissionIndex.embBuildIndex(
      base.toDF("vec_id", "embedding", "label"), dir, centroids = 8)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float], String)]
    val q = AdmissionIndex.embPairsVsIndex(
        mem.toDF().toDF("vec_id", "embedding", "label"), dir,
        threshold = 0.99, nProbe = 2)
      .writeStream.format("memory").queryName("emb_admission_test")
      .outputMode("append").start()
    try {
      mem.addData(batch.take(1))
      q.processAllAvailable()
      mem.addData(batch.drop(1))
      q.processAllAvailable()
      val streamed = spark.table("emb_admission_test")
        .select("batch_vec", "base_vec").as[(Long, Long)].collect().toSet
      val batchTwin = AdmissionIndex.embPairsVsIndex(
          batch.toDF("vec_id", "embedding", "label"), dir, 0.99, 2)
        .select("batch_vec", "base_vec").as[(Long, Long)].collect().toSet
      assert(streamed == batchTwin, s"stream $streamed != batch $batchTwin")
      // the planted twins must be among the verified pairs, the novel
      // vector must not match anything (the full pair set may contain
      // additional genuine >=0.99 base pairs — the sin-derived fixture
      // has phase near-aliases, e.g. vec(78) ≈ vec(20))
      assert(streamed.contains((101L, 20L)) && streamed.contains((105L, 34L)),
        streamed.toString)
      assert(streamed.map(_._1) == Set(101L, 105L), streamed.toString)
      assert(q.lastProgress == null ||
        Option(q.lastProgress.stateOperators).forall(ops =>
          ops.isEmpty || ops.forall(_.numRowsTotal == 0L)))
    } finally q.stop()
  }

  test("lifecycle: an admitted doc folded in as a delta generation " +
    "rejects later duplicates of itself; append is idempotent per genKey") {
    val dir = freshDir()
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near a river bank today"),
      (6L, "pack my box with five dozen liquor jugs before the long journey south"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    AdmissionIndex.buildIndex(base, dir, threshold = 0.5, maxDfFrac = 1.0)
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    // batch1: 1 duplicates base 0 (rejected); 7 is novel (admitted)
    val batch1 = docs(
      (1L, "the quick brown fox jumps over the lazy dog near a river bank today"),
      (7L, "a completely novel incoming document about gardens and architecture styles"))
    val rejected1 = AdmissionIndex.probePairs(batch1, dir, 0.5)
      .select("a").as[Long].collect().toSet
    assert(rejected1 == Set(1L), rejected1.toString)
    val admitted1 = batch1.filter(!col("doc_id").isin(rejected1.toSeq: _*))
    AdmissionIndex.appendGeneration(admitted1, dir, "spec-gen1", 0.5)
    // idempotence: same genKey again — must be a no-op
    AdmissionIndex.appendGeneration(admitted1, dir, "spec-gen1", 0.5)
    // batch2: 2 duplicates the ADMITTED 7 -> rejected against 7 (the
    // gate property: what round 1 admitted, round 2 cannot duplicate);
    // 8 duplicates base 6 -> still rejected against the base; 9 novel
    val batch2 = docs(
      (2L, "a completely novel incoming document about gardens and architecture styles"),
      (8L, "pack my box with five dozen liquor jugs before the long journey south"),
      (9L, "yet another entirely different text about oceans and sailing ships"))
    val pairs2 = AdmissionIndex.probePairs(batch2, dir, 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs2 == Set((2L, 7L), (8L, 6L)), pairs2.toString)
    // the idempotent double-append must not have produced duplicate
    // index rows: each pair verified exactly once
    val cnt = AdmissionIndex.probePairs(batch2, dir, 0.5).count()
    assert(cnt == 2L, s"expected 2 pair rows, got $cnt")
  }

  test("pruned micro-batch probe ≡ un-pruned stateless plan, and its " +
    "band/hset scans read ONLY touched partitions (metadata pruning, " +
    "partition-count metrics strictly below the layout size)") {
    val docs = corpus
    val dir = freshDir()
    // explicit wide override: 256 band buckets / 64 doc buckets, so a
    // 4-doc batch's touched set is a strict subset by construction
    AdmissionIndex.buildIndex(docs.filter(col("doc_id") % 2 === 0), dir,
      threshold = 0.5, maxDfFrac = 0.3, buckets = Some((256, 64)))
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val unpruned = AdmissionIndex.pairsVsIndex(batch, dir, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def partDirs(sub: String) = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir, sub))
      try {
        var n = 0
        val it = s.iterator()
        while (it.hasNext) {
          if (it.next().getFileName.toString.contains("=")) n += 1
        }
        n
      } finally s.close()
    }
    // AQE off for the whole pruned run so the executed plan exposes
    // plain FileSourceScanExec nodes with populated partition metrics
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (planDf, release) =
        AdmissionIndex.pairsVsIndexPrunedPlan(batch, dir, 0.5)
      try {
        val pruned = planDf.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(pruned == unpruned, s"$pruned != $unpruned")
        // the bands scan ran while building the persisted candidate
        // stage (the bucket-collect job), so it sits inside the cached
        // plan of an InMemoryTableScan, metrics populated by that real
        // execution; the hsets scan is in the final plan directly
        val top = planDf.queryExecution.executedPlan
        val scans = top.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        } ++ top.collect {
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
        }.flatMap(_.relation.cachedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        })
        def scansOf(sub: String) = scans.filter(
          _.relation.location.rootPaths.exists(_.toString.contains(s"/$sub")))
        val bandScans = scansOf("bands")
        val hsetScans = scansOf("hsets")
        assert(bandScans.nonEmpty && hsetScans.nonEmpty,
          scans.map(_.relation.location.rootPaths.mkString).mkString("\n"))
        assert((bandScans ++ hsetScans).forall(_.partitionFilters.nonEmpty),
          "bucket predicates must be PartitionFilters (metadata-only pruning)")
        val bandRead = bandScans.map(_.metrics("numPartitions").value).sum
        val hsetRead = hsetScans.map(_.metrics("numPartitions").value).sum
        assert(bandRead < partDirs("bands"),
          s"band scan read $bandRead of ${partDirs("bands")} partitions — not pruned")
        assert(hsetRead < partDirs("hsets"),
          s"hset scan read $hsetRead of ${partDirs("hsets")} partitions — not pruned")
      } finally release()
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("startNearDupStream: foreachBatch around the pruned probe, " +
    "2 micro-batches, stream ≡ pruned batch twin, exactly-once pairs") {
    val docs = corpus
    val dir = freshDir()
    AdmissionIndex.buildIndex(docs.filter(col("doc_id") % 2 === 0), dir,
      threshold = 0.5, maxDfFrac = 0.3)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = AdmissionIndex.startNearDupStream(streamDocs, dir, 0.5) {
      (df, _) =>
        got ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        ()
    }
    try {
      val rows = docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      mem.addData(rows.take(2))
      q.processAllAvailable()
      mem.addData(rows.drop(2))
      q.processAllAvailable()
      val twin = AdmissionIndex
        .pairsVsIndexPruned(docs.filter(col("doc_id") % 2 === 1), dir, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.toSet == twin, s"stream ${got.toSet} != batch $twin")
      assert(got.size == got.distinct.size, "pairs must be exactly-once")
      assert(got.map(p => (p._1, p._2)).toSet == Set((101L, 102L), (103L, 104L)))
    } finally q.stop()
  }

  test("startNearDupStream skip gate: a committed batch id short-circuits " +
    "before the probe (sink never invoked), delivery byte-identical; a " +
    "crashed markerless dir is NOT skipped and rewrites cleanly") {
    val docs = corpus
    val dir = freshDir()
    AdmissionIndex.buildIndex(docs.filter(col("doc_id") % 2 === 0), dir,
      threshold = 0.5, maxDfFrac = 0.3)
    val out = s"$dir/sunk"
    val rows = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    def drive(sink: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = AdmissionIndex.startNearDupStream(
        mem.toDF().toDF("doc_id", "text"), dir, 0.5,
        skip = AdmissionIndex.sunkCommitted(out))(sink)
      try { mem.addData(rows); q.processAllAvailable() } finally q.stop()
    }
    drive(AdmissionIndex.exactlyOnceParquetSink(out))
    def read() = AdmissionIndex.readSunk(spark, out)
      .select("batch_id", "batch_doc", "base_doc")
      .as[(Long, Long, Long)].collect().toSet
    val first = read()
    assert(first.nonEmpty, "fixture must produce at least one pair")
    // replay: each new MemoryStream restarts batch ids at 0, so the
    // committed id replays — the gate must short-circuit BEFORE the
    // probe and the sink (a throwing sink proves it is never invoked)
    drive((_, id) => throw new IllegalStateException(
      s"sink invoked for committed batch id $id — skip gate failed"))
    assert(read() == first, "a skipped replay must not change delivery")
    // a crashed attempt (marker gone) must NOT be skipped: the replay
    // re-probes and rewrites the batch exactly once
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(out, "batch=0", "_GRAFT_INDEX_OK"))
    drive(AdmissionIndex.exactlyOnceParquetSink(out))
    assert(read() == first, "the crashed-dir replay must rewrite the " +
      "identical batch")
  }

  test("ensureFrontDoorIndexes: cold CONCURRENT builds of the three " +
    "families produce indexes whose composed probe is identical to the " +
    "serial default-family twin") {
    val sfDir = "/root/testdata/sf0.001"
    val AI = AdmissionIndex
    // a dedicated famTag whose three dirs are wiped first, so the
    // concurrent path actually builds cold every run (famTag shapes
    // only the dir naming — content at baseMod=2 is the default
    // family's exactly)
    val tag = "ccbuild"
    Seq(
      AI.textIndexDirFor(s"$sfDir/documents.parquet",
        Dedup.DefaultThreshold, Dedup.DefaultMaxDfFrac, famTag = tag),
      AI.embIndexDirFor(s"$sfDir/embeddings.parquet",
        AI.EmbCentroids, famTag = tag),
      AI.fpIndexDirFor(s"$sfDir/documents.parquet", famTag = tag)
    ).foreach { d =>
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
      }
      rm(new java.io.File(d))
    }
    val (dir, edir, fdir) = AI.ensureFrontDoorIndexes(spark, sfDir,
      Dedup.DefaultThreshold, Dedup.DefaultMaxDfFrac, AI.EmbCentroids,
      famTag = tag)
    val incoming = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
    val got = AI.frontDoorOn(incoming, spark, sfDir, dir, edir, fdir,
      Dedup.DefaultThreshold, AI.EmbThreshold, AI.EmbNProbe)
      .as[(Long, String, Long)].collect().toSet
    val twin = AI.frontDoor(spark, sfDir)
      .as[(Long, String, Long)].collect().toSet
    assert(got == twin,
      s"extra=${got -- twin} missing=${twin -- got}")
  }

  test("pristine snapshot clone: a famTag'd cold ensure reuses the " +
    "sibling's root content, and a COMPACTED sibling never poisons the " +
    "clone — the new family starts delta-free") {
    val sfDir = java.nio.file.Files
      .createTempDirectory("graft-clone-spec").toString
    (0 until 40).map(i =>
        (3L * i, s"pristine clone corpus document number $i topic t$i"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    // family A (default famTag): build, fold a generation, COMPACT —
    // A's root now carries the folded doc
    val a = AdmissionIndex.ensureIndex(spark, sfDir, baseMod = 3)
    val novel = Seq((1001L,
        "an admitted document with wholly original clone spec content"))
      .toDF("doc_id", "text")
    AdmissionIndex.appendGeneration(novel, a, "clone-g1")
    AdmissionIndex.compactIndex(spark, a)
    val copy = Seq((2002L,
        "an admitted document with wholly original clone spec content"))
      .toDF("doc_id", "text")
    def pairsIn(dir: String) = AdmissionIndex.probePairs(copy, dir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairsIn(a) == Set((2002L, 1001L)),
      "compacted family A must gate the folded doc: " + pairsIn(a))
    // family B (new famTag, same content key): the cold ensure clones
    // the PRISTINE snapshot, not A's compacted root — the folded doc
    // is A's lifecycle state and must be invisible to B
    val b = AdmissionIndex.ensureIndex(spark, sfDir, baseMod = 3,
      famTag = "clonespec")
    assert(b != a, s"famTag must key a distinct dir: $b")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(b, "_GRAFT_INDEX_OK")))
    assert(pairsIn(b).isEmpty,
      "cloned family must be delta-free (pristine): " + pairsIn(b))
    // and B behaves exactly like a fresh base build: a base twin matches
    val baseTwin = Seq((3001L,
        "pristine clone corpus document number 7 topic t7 altered"))
      .toDF("doc_id", "text")
    val gotB = AdmissionIndex.probePairs(baseTwin, b)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(gotB == Set((3001L, 21L)), gotB.toString)
    // the snapshot is hardlinks of the first build, not a byte copy:
    // a data file in B shares its inode with the snapshot's twin
    val hsetFile = java.nio.file.Files.walk(java.nio.file.Paths.get(b))
      .filter(p => p.toString.endsWith(".parquet"))
      .findFirst().get()
    val links = java.nio.file.Files
      .getAttribute(hsetFile, "unix:nlink").asInstanceOf[Int]
    assert(links >= 2, s"expected a hardlinked clone, nlink=$links")
  }

  test("startEmbAdmissionStream: foreachBatch around the pruned IVF " +
    "probe, stream ≡ pruned twin ≡ un-pruned plan") {
    val dims = 8
    def vec(seed: Long) = Array.tabulate(dims)(i =>
      math.sin(seed * 13.0 + i * 7.0).toFloat)
    val base = (0 until 40).map(i => (2L * i, vec(2L * i), "0"))
    val batch = Seq(
      (101L, vec(20L), "0"),
      (103L, Array.tabulate(dims)(i => if (i == 0) 1e-4f else 0f), "0"),
      (105L, vec(34L), "0"))
    val dir = freshDir()
    AdmissionIndex.embBuildIndex(
      base.toDF("vec_id", "embedding", "label"), dir, centroids = 8)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float], String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = AdmissionIndex.startEmbAdmissionStream(
      mem.toDF().toDF("vec_id", "embedding", "label"), dir,
      threshold = 0.99, nProbe = 2) { (df, _) =>
        got ++= df.select("batch_vec", "base_vec").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        ()
    }
    try {
      mem.addData(batch.take(1))
      q.processAllAvailable()
      mem.addData(batch.drop(1))
      q.processAllAvailable()
      val prunedTwin = AdmissionIndex.embPairsVsIndexPruned(
          batch.toDF("vec_id", "embedding", "label"), dir, 0.99, 2)
        .select("batch_vec", "base_vec").as[(Long, Long)].collect().toSet
      val unpruned = AdmissionIndex.embPairsVsIndex(
          batch.toDF("vec_id", "embedding", "label"), dir, 0.99, 2)
        .select("batch_vec", "base_vec").as[(Long, Long)].collect().toSet
      assert(got.toSet == prunedTwin, s"stream ${got.toSet} != $prunedTwin")
      assert(prunedTwin == unpruned, s"pruned $prunedTwin != un-pruned $unpruned")
      assert(got.toSet.contains((101L, 20L)) && got.toSet.contains((105L, 34L)))
    } finally q.stop()
  }

  test("compaction: probe answers bitwise unchanged, generations demoted " +
    "to committed markers, append idempotence survives, re-run is a no-op") {
    val dir = freshDir()
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near a river bank today"),
      (6L, "pack my box with five dozen liquor jugs before the long journey south"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    AdmissionIndex.buildIndex(base, dir, threshold = 0.5, maxDfFrac = 1.0)
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val admitted1 = docs(
      (7L, "a completely novel incoming document about gardens and architecture styles"))
    AdmissionIndex.appendGeneration(admitted1, dir, "spec-compact-g1", 0.5)
    val batch2 = docs(
      (2L, "a completely novel incoming document about gardens and architecture styles"),
      (8L, "pack my box with five dozen liquor jugs before the long journey south"),
      (9L, "yet another entirely different text about oceans and sailing ships"))
    def probe() = AdmissionIndex.probePairs(batch2, dir, 0.5)
      .select(col("a"), col("b"), round(col("jac"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = probe()
    assert(before.map(p => (p._1, p._2)) == Set((2L, 7L), (8L, 6L)), before.toString)
    val gdirs = {
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "delta"))
      try {
        val b = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        val it = s.iterator(); while (it.hasNext) b += it.next()
        b.toSeq
      } finally s.close()
    }
    assert(gdirs.nonEmpty && gdirs.forall(g =>
      java.nio.file.Files.isDirectory(g.resolve("bands"))))
    AdmissionIndex.compactIndex(spark, dir)
    // probe answer identical off the single-root layout
    assert(probe() == before)
    // generations demoted: marker present (idempotence key), data gone
    gdirs.foreach { g =>
      assert(java.nio.file.Files.exists(g.resolve("_GRAFT_INDEX_OK")),
        "generation marker must survive compaction")
      assert(!java.nio.file.Files.exists(g.resolve("bands")),
        "generation data must be folded away")
    }
    // a replayed lifecycle cannot re-append the compacted generation
    AdmissionIndex.appendGeneration(admitted1, dir, "spec-compact-g1", 0.5)
    gdirs.foreach(g =>
      assert(!java.nio.file.Files.exists(g.resolve("bands")),
        "append after compaction must remain a no-op"))
    assert(probe() == before)
    // idempotent: nothing live to compact
    AdmissionIndex.compactIndex(spark, dir)
    assert(probe() == before)
  }

  test("bucket sizing: counts derive from the base size (pow2, clamped), " +
    "and probes read the MARKER's counts — an override layout probes " +
    "identically to the default one") {
    assert(AdmissionIndex.bucketCountsFor(100L, 9) == (16, 16))
    assert(AdmissionIndex.bucketCountsFor(300000L, 9) == (128, 128))
    assert(AdmissionIndex.bucketCountsFor(1L << 40, 9) == (16384, 16384))
    val docs = corpus
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val dirA = freshDir()
    val dirB = freshDir()
    AdmissionIndex.buildIndex(base, dirA, threshold = 0.5, maxDfFrac = 0.3)
    AdmissionIndex.buildIndex(base, dirB, threshold = 0.5, maxDfFrac = 0.3,
      buckets = Some((32, 8)))
    def probe(dir: String) = AdmissionIndex.probePairs(batch, dir, 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(probe(dirA) == probe(dirB))
    assert(probe(dirB) == Set((101L, 102L), (103L, 104L)))
    // the override's counts landed in the marker
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dirB, "_GRAFT_INDEX_OK")), "UTF-8")
    assert(marker.contains("\"bandBuckets\":32") &&
      marker.contains("\"docBuckets\":8"), marker)
  }

  test("staleness key: a content rewrite that PRESERVES every mtime " +
    "still rotates the index dir (count+bytes in the fingerprint)") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-admission-mtime").toString
    val docsPath = s"$tmp/documents.parquet"
    def pinMtimes(): Unit = {
      val t = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(docsPath))
      try {
        val it = s.iterator()
        while (it.hasNext) java.nio.file.Files.setLastModifiedTime(it.next(), t)
      } finally s.close()
    }
    corpus.write.mode("overwrite").parquet(docsPath)
    pinMtimes()
    val d1 = AdmissionIndex.indexDirFor(docsPath, 0.5, 0.1)
    assert(d1 == AdmissionIndex.indexDirFor(docsPath, 0.5, 0.1))
    // regenerate with different content, then pin every mtime back to
    // the exact same instant — the r10 mtime-only key missed this
    corpus.union(corpus.withColumn("doc_id", col("doc_id") + 1000))
      .write.mode("overwrite").parquet(docsPath)
    pinMtimes()
    assert(AdmissionIndex.indexDirFor(docsPath, 0.5, 0.1) != d1,
      "same-mtime content rewrite must rotate the index key")
  }

  test("manifest staleness: _GRAFT_MANIFEST is the O(1) authoritative " +
    "key — file churn under it does not rotate, bumping it does") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-admission-manifest").toString
    val docsPath = s"$tmp/documents.parquet"
    corpus.write.mode("overwrite").parquet(docsPath)
    val mf = java.nio.file.Paths.get(docsPath, "_GRAFT_MANIFEST")
    java.nio.file.Files.write(mf, "v1".getBytes("UTF-8"))
    val d1 = AdmissionIndex.indexDirFor(docsPath, 0.5, 0.1)
    // touch the data files: with a manifest present the key must NOT
    // move (the manifest is the version, by contract)
    val f = java.nio.file.Paths.get(docsPath)
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(f).toMillis + 5000))
    assert(AdmissionIndex.indexDirFor(docsPath, 0.5, 0.1) == d1)
    java.nio.file.Files.write(mf, "v2".getBytes("UTF-8"))
    assert(AdmissionIndex.indexDirFor(docsPath, 0.5, 0.1) != d1,
      "manifest bump must rotate the index key")
  }

  test("index staleness: regenerating the corpus in place (same path, " +
    "newer mtime) yields a different index dir") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-admission-docs").toString
    val docsPath = s"$tmp/documents.parquet"
    corpus.write.mode("overwrite").parquet(docsPath)
    val d1 = AdmissionIndex.indexDirFor(docsPath, 0.5, 0.1)
    // same content+mtime → same dir (idempotent key)
    assert(d1 == AdmissionIndex.indexDirFor(docsPath, 0.5, 0.1))
    // bump mtime past filesystem timestamp granularity
    val f = java.nio.file.Paths.get(docsPath)
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(f).toMillis + 5000))
    val d2 = AdmissionIndex.indexDirFor(docsPath, 0.5, 0.1)
    assert(d1 != d2, "mtime change must rotate the index key")
    // parameters rotate the key too
    assert(AdmissionIndex.indexDirFor(docsPath, 0.4, 0.1) != d2)
  }

  test("emb delta generations: a folded admitted vector rejects its later " +
    "duplicate, append is idempotent, compaction is invisible") {
    val dims = 8
    def vec(seed: Long) = Array.tabulate(dims)(i =>
      math.sin(seed * 13.0 + i * 7.0).toFloat)
    val base = (0 until 40).map(i => (2L * i, vec(2L * i), "0"))
    val dir = freshDir()
    AdmissionIndex.embBuildIndex(
      base.toDF("vec_id", "embedding", "label"), dir, centroids = 8)
    // batch1: one novel vector — a one-hot axis vector; cos against any
    // sin-family base vector is |v0|/||v|| ≤ ~0.5, far below 0.99
    val oneHot = Array.tabulate(dims)(i => if (i == 0) 1f else 0f)
    val novel = Seq((1001L, oneHot, "0")).toDF("vec_id", "embedding", "label")
    assert(AdmissionIndex.embProbe(novel, dir, 0.99, 2).count() == 0,
      "the planted novel vector must be admitted by the base index")
    AdmissionIndex.embAppendGeneration(novel, dir, "emb-spec-g1")
    // batch2: an exact copy of the admitted vector — the gate property:
    // what round 1 admitted, round 2 cannot duplicate
    val copy = Seq((2001L, oneHot, "0")).toDF("vec_id", "embedding", "label")
    def probeCopy() = AdmissionIndex.embProbe(copy, dir, 0.99, 2)
      .select("batch_vec", "base_vec").as[(Long, Long)].collect().toSet
    assert(probeCopy() == Set((2001L, 1001L)), probeCopy().toString)
    // idempotence: replaying the fold cannot duplicate the generation
    AdmissionIndex.embAppendGeneration(novel, dir, "emb-spec-g1")
    val rows = AdmissionIndex.embProbe(copy, dir, 0.99, 2).count()
    assert(rows == 1, s"replayed fold must not duplicate: $rows rows")
    // the pruned stateless form sees the generation too
    val viaPruned = AdmissionIndex.embPairsVsIndexPruned(copy, dir, 0.99, 2)
      .select("batch_vec", "base_vec").as[(Long, Long)].collect().toSet
    assert(viaPruned == Set((2001L, 1001L)), viaPruned.toString)
    // compaction: bitwise-identical probe, generation demoted, no-op re-run
    val before = AdmissionIndex.embProbe(copy, dir, 0.99, 2)
      .collect().map(_.toString).toSet
    AdmissionIndex.embCompactIndex(spark, dir)
    val after = AdmissionIndex.embProbe(copy, dir, 0.99, 2)
      .collect().map(_.toString).toSet
    assert(before == after, s"compaction changed answers: $before vs $after")
    val gens = new java.io.File(s"$dir/delta").listFiles()
    assert(gens != null && gens.forall { g =>
      new String(java.nio.file.Files.readAllBytes(
        g.toPath.resolve("_GRAFT_INDEX_OK")), "UTF-8").contains("\"rows\":0")
    }, "generations must demote to empty committed markers")
    AdmissionIndex.embCompactIndex(spark, dir) // no live gens -> no-op
    AdmissionIndex.embAppendGeneration(novel, dir, "emb-spec-g1")
    assert(AdmissionIndex.embProbe(copy, dir, 0.99, 2).count() == 1,
      "a compacted generation's genKey must stay committed")
  }

  test("chunkCount is ceil(n / maxDocs) capped at 4096, and never " +
    "chunks under maxDocs = Long.MaxValue") {
    val cc = AdmissionIndex.chunkCount _
    assert(Seq(cc(0L, 10L), cc(10L, 10L), cc(11L, 10L), cc(20L, 10L),
      cc(21L, 10L)) == Seq(1, 1, 2, 2, 3))
    assert(cc(Long.MaxValue, 1L) == 4096)
    assert(Seq(1L, 2L, 250000L, Long.MaxValue)
      .forall(n => cc(n, Long.MaxValue) == 1))
  }

  test("fp index: exact-tier probe matches normalized dups with " +
    "lowest-id attribution, misses novels, pruned scan") {
    // 40 distinct base docs so all 16 fp buckets are populated (the
    // pruning assertion needs read-partitions < total-partitions);
    // 20/22 share one text — the stored bid must be the LOWER id
    val base = ((0 until 40).map(i =>
        (2L * i, if (i == 11) "shared duplicate text body" // id 22
                 else s"unique base document number $i about topic t$i")) :+
      (20L, "shared duplicate text body")) // duplicate of 22's text
      .toDF("doc_id", "text")
    val dir = freshDir()
    AdmissionIndex.buildFpIndex(base, dir)
    val batch = Seq(
      // normalization: case + whitespace variants ARE the same doc
      (101L, "  SHARED   duplicate\ttext body "),
      (103L, "unique base document number 7 about topic t7"),
      (105L, "a novel incoming document the base has never seen")
    ).toDF("doc_id", "text")
    val (ids, exact) = AdmissionIndex.fpProbeOnDriver(batch, dir)
    assert(ids.sorted.toSeq == Seq(101L, 103L, 105L), ids.toSeq.toString)
    assert(exact.toSet == Set((101L, 20L), (103L, 14L)),
      s"fp probe got $exact") // 101 → lowest of {20, 22}; 105 admitted
    // plan shape: the fps scan is metadata-pruned to touched buckets
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bf = AdmissionIndex.fingerprinted(batch, dir)
      val touched = bf.select("fp_bucket").as[Int].collect().distinct.sorted
      val planDf = AdmissionIndex.fpMatches(bf, dir, touched)
      // the build stored one bid per fp, already the lowest (20 of 20/22)
      assert(planDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((101L, 20L), (103L, 14L)))
      val scans = planDf.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.filter(_.relation.location.rootPaths
        .exists(_.toString.contains("/fps")))
      assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
        "fp_bucket predicate must be a PartitionFilter")
      val readParts = scans.map(_.metrics("numPartitions").value).sum
      val totalParts = {
        val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(dir, "fps"))
        try {
          var n = 0
          val it = s.iterator()
          while (it.hasNext) {
            if (it.next().getFileName.toString.contains("=")) n += 1
          }
          n
        } finally s.close()
      }
      assert(readParts < totalParts,
        s"fps scan read $readParts of $totalParts partitions — not pruned")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("streaming front door: 2 micro-batches through all three tiers " +
    "≡ the q139 batch form, exactly-once per doc") {
    val sfDir = "/root/testdata/sf0.001"
    val twin = AdmissionIndex.frontDoor(spark, sfDir)
      .as[(Long, String, Long)].collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val q = AdmissionIndex.startFrontDoorStream(streamDocs, sfDir) {
      (df, _) =>
        got ++= df.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2)))
        ()
    }
    try {
      val rows = graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      mem.addData(rows.take(rows.size / 2))
      q.processAllAvailable()
      mem.addData(rows.drop(rows.size / 2))
      q.processAllAvailable()
      assert(got.size == got.distinct.size, "per-doc rows must be exactly-once")
      assert(got.toSet == twin,
        s"stream diff: extra=${got.toSet -- twin} missing=${twin -- got.toSet}")
      // verdicts drawn from the tier vocabulary, and the gate both
      // rejects and admits on this fixture
      val tiers = got.map(_._2).toSet
      assert(tiers.subsetOf(Set("exact", "near_dup", "semantic", "admitted")))
      assert(tiers.contains("admitted") && tiers.size >= 2, tiers.toString)
    } finally q.stop()
  }

  /** A planted sfDir for the composed-lifecycle family: ids ≡0 mod 3 =
    * base, ≡1 = batch1, ≡2 = batch2, with one case per tier-fold path
    * (see the doc Seq). Fresh temp dir per call → fresh index family. */
  private def plantedFdCorpus(): String = {
    val sfDir = java.nio.file.Files
      .createTempDirectory("graft-fd-lifecycle").toString
    val docs = Seq(
      // base
      (3L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"),
      (6L, "one two three four five six seven eight nine ten eleven twelve"),
      (9L, "mountain river forest desert ocean valley hill lake stream meadow cliff cave"),
      (12L, "red orange yellow green blue indigo violet pink brown black white gray"),
      // batch1: 7 exact-dups base 6; 10 near-dups base 9; 13/16/19 novel
      (7L, "one two three four five six seven eight nine ten eleven twelve"),
      (10L, "mountain river forest desert ocean valley hill lake stream meadow cliff cavern"),
      (13L, "zebra yak xylophone walrus vulture unicorn tiger snake rabbit quail porcupine otter"),
      (16L, "zz qq"), // 2 tokens: unsignable — only the fp fold can gate its dups
      (19L, "council of ancient mariners charted seven unknown seas beyond the horizon line"),
      // batch2: 8 exact-dups BASE 6; 11 exact-dups ADMITTED 13 (case/ws
      // variant — normalization is part of the fp contract); 14
      // exact-dups the unsignable 16; 17 near-dups ADMITTED 13; 20 is
      // novel text whose VECTOR copies admitted 19's; 23 fully novel
      (8L, "one two three four five six seven eight nine ten eleven twelve"),
      (11L, "  ZEBRA yak\txylophone walrus vulture unicorn tiger snake rabbit quail porcupine otter "),
      (14L, "ZZ  qq"),
      (17L, "zebra yak xylophone walrus vulture unicorn tiger snake rabbit quail porcupine ottered"),
      (20L, "completely different topic discussing culinary techniques and pastry recipes in detail"),
      (23L, "unmatched final document about astronomy telescopes and distant galaxy clusters")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    docs.write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    def oneHot(k: Int) = Array.tabulate(8)(i => if (i == k) 1f else 0f)
    Seq( // base vectors (4 cells), admitted 19's vector, 20 = its copy,
         // 23 orthogonal to everything live
      (3L, oneHot(2), 0), (6L, oneHot(3), 0), (9L, oneHot(4), 0),
      (12L, oneHot(5), 0), (19L, oneHot(0), 0), (20L, oneHot(0), 0),
      (23L, oneHot(1), 0)
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$sfDir/embeddings.parquet")
    sfDir
  }

  /** The batch2 attribution every composed-lifecycle form must produce
    * on [[plantedFdCorpus]] — one case per tier-fold path. */
  private val fdExpected = Map(
    8L -> (("exact", 6L)),       // base match survives the fold
    11L -> (("exact", 13L)),     // fp fold: admitted batch1 doc gates
    14L -> (("exact", 16L)),     // fp fold on the UNSIGNABLE doc
    17L -> (("near_dup", 13L)),  // minhash fold
    20L -> (("semantic", 19L)),  // IVF fold
    23L -> (("admitted", -1L))
  )

  test("composed front-door lifecycle: what batch1 admitted through ANY " +
    "tier, batch2 cannot re-admit — on every tier, including the " +
    "sub-3-token doc only the fp fold can catch") {
    val sfDir = plantedFdCorpus()
    def run() = AdmissionIndex.frontDoorLifecycle(spark, sfDir)
      .as[(Long, String, Long)].collect().toSeq
    val got = run()
    assert(got.map(r => r._1 -> ((r._2, r._3))).toMap == fdExpected,
      got.toString)
    // warm replay: committed generations make the whole round-1 fold a
    // no-op — attribution identical, nothing duplicated
    assert(run() == got, "warm lifecycle re-run must be identical")
  }

  test("front door picks each doc's best match on the driver: planted " +
    "jaccard and cosine ties go to the lowest base id, and exact " +
    "outranks near_dup outranks semantic — whole-batch and chunked alike") {
    val sfDir = java.nio.file.Files
      .createTempDirectory("graft-fd-ties").toString
    val c = "river stone maple cedar willow birch aspen spruce larch alder " +
      "rowan hazel poplar linden"
    val d = "quartz granite basalt marble slate shale flint chalk jasper " +
      "onyx agate opal garnet topaz"
    val e = "violin cello viola harp flute oboe clarinet bassoon trumpet " +
      "trombone tuba horn lute lyre"
    // even ids = base, odd = batch; within each tie the HIGHER id is
    // written first, so scan order cannot pick the winner
    val docs = Seq(
      (4L, s"$c lima"), (2L, s"$c mike"),     // near_dup tie for 5
      (16L, d), (10L, d),                     // exact tie for 9 (one fp)
      (18L, s"$e drum"),                      // near_dup of 11
      (14L, "semantic anchor text about sailing boats and harbour tides"),
      (22L, "plain base words about baking bread with rye and spelt flour"),
      (20L, "more base words about cycling routes through alpine passes"),
      (5L, s"$c november"),
      (9L, d),                                // exact + near_dup + semantic
      (11L, s"$e gong"),                      // near_dup + semantic
      (13L, "batch text about chess openings and endgame studies today"),
      (15L, "novel batch text on volcanic islands and coral reef ecology"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    docs.write.parquet(s"$sfDir/documents.parquet")
    def unit(k: Int) = Array.tabulate(16)(i => if (i == k) 1f else 0f)
    val half = math.sqrt(0.5).toFloat
    Seq((2L, unit(2)), (4L, unit(3)), (10L, unit(4)), (16L, unit(5)),
      (18L, unit(6)), (14L, unit(7)), (22L, unit(1)), (20L, unit(0)),
      (5L, unit(8)), (9L, unit(7)), (11L, unit(7)),
      // 13 sits halfway between 20 and 22: one cosine for both
      (13L, Array.tabulate(16)(i => if (i < 2) half else 0f)),
      (15L, unit(9)))
      .map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$sfDir/embeddings.parquet")
    val AI = AdmissionIndex
    val (dir, edir, fdir) = AI.ensureFrontDoorIndexes(spark, sfDir,
      Dedup.DefaultThreshold, Dedup.DefaultMaxDfFrac, AI.EmbCentroids)
    val incoming = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
    def run(maxDocs: Long) = AI.frontDoorOn(incoming, spark, sfDir,
      dir, edir, fdir, Dedup.DefaultThreshold, AI.EmbThreshold,
      AI.EmbNProbe, maxDocs).as[(Long, String, Long)].collect().toSeq
    val expected = Seq(
      (5L, "near_dup", 2L),   // jaccard tie 2 vs 4
      (9L, "exact", 10L),     // fp tie 10 vs 16; also near_dup and semantic
      (11L, "near_dup", 18L), // also semantic (14)
      (13L, "semantic", 20L), // cosine tie 20 vs 22
      (15L, "admitted", -1L))
    assert(run(AI.DefaultMaxDocsPerBatch) == expected)
    assert(run(1L) == expected, "chunked tier 2 must pick the same winners")
  }

  test("composed lifecycle replay after a PARTIAL fold commit: the " +
    "staged attribution keeps the admitted set stable (no self-reject " +
    "poisoning), and the missing folds re-commit with real rows") {
    val sfDir = plantedFdCorpus()
    def run() = AdmissionIndex.frontDoorLifecycle(spark, sfDir)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(run() == fdExpected)
    // simulate the crash window this round's review found: the fp fold
    // committed, the text/emb folds did not (their markers gone; a
    // markerless generation IS the crashed-append state). Without the
    // staged attribution, the replay's re-probe would see batch1's own
    // fp generation, self-reject docs 13/16/19 as exact dups, and
    // commit EMPTY text/emb generations under the same genKey forever.
    val tdir = AdmissionIndex.textIndexDirFor(
      s"$sfDir/documents.parquet", Dedup.DefaultThreshold,
      Dedup.DefaultMaxDfFrac, baseMod = 3, famTag = "fd")
    val edir = AdmissionIndex.embIndexDirFor(
      s"$sfDir/embeddings.parquet", AdmissionIndex.EmbCentroids, 3, "fd")
    val killed = Seq(tdir, edir).flatMap { d =>
      val delta = new java.io.File(s"$d/delta")
      Option(delta.listFiles()).toSeq.flatten.map { g =>
        val m = g.toPath.resolve("_GRAFT_INDEX_OK")
        java.nio.file.Files.delete(m)
        m
      }
    }
    assert(killed.size == 2, s"expected one generation per index: $killed")
    assert(run() == fdExpected,
      "replay after a partial fold must reproduce the attribution")
    killed.foreach { m =>
      val txt = new String(java.nio.file.Files.readAllBytes(m), "UTF-8")
      assert(!txt.contains("\"rows\":0"),
        s"re-committed generation must carry real rows: $m -> $txt")
    }
  }

  test("markerless-root rebuild preserves committed delta generations " +
    "(the crashed-compaction window): a folded doc still gates its dup " +
    "after ensureIndex rebuilds the base tables") {
    val sfDir = java.nio.file.Files
      .createTempDirectory("graft-rebuild-preserve").toString
    (0 until 40).map(i =>
        (2L * i, s"unique rebuild corpus document number $i topic t$i"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    val dir = AdmissionIndex.ensureIndex(spark, sfDir)
    val novel = Seq((1001L,
        "a freshly admitted document with wholly original token content"))
      .toDF("doc_id", "text")
    AdmissionIndex.appendGeneration(novel, dir, "rebuild-g1")
    val copy = Seq((2001L,
        "a freshly admitted document with wholly original token content"))
      .toDF("doc_id", "text")
    def pairs() = AdmissionIndex.probePairs(copy, dir)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs() == Set((2001L, 1001L)), pairs().toString)
    // crashed-compaction state: the root marker is off, delta intact.
    // ensureIndex must rebuild the base tables WITHOUT taking the
    // committed generation with them (publish moves delta/staged aside
    // before the recursive delete)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "_GRAFT_INDEX_OK"))
    val dir2 = AdmissionIndex.ensureIndex(spark, sfDir)
    assert(dir2 == dir, s"rebuild must land in the same keyed dir: $dir2")
    assert(pairs() == Set((2001L, 1001L)),
      "the rebuilt root must still carry the committed generation")
  }

  test("streaming front-door lifecycle: per-micro-batch probe-and-fold " +
    "≡ the batch lifecycle, and a re-submitted batch is fully rejected") {
    val sfDir = plantedFdCorpus()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val byBatch = scala.collection.mutable.Map
      .empty[Long, Map[Long, (String, Long)]]
    val q = AdmissionIndex.startFrontDoorLifecycleStream(
      streamDocs, sfDir) { (df, id) =>
      byBatch(id) = df.collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      ()
    }
    try {
      val all = graft.Tables.documents(spark, sfDir)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      val batch1 = all.filter(_._1 % 3 == 1)
      mem.addData(batch1)
      q.processAllAvailable()
      mem.addData(all.filter(_._1 % 3 == 2))
      q.processAllAvailable()
      // micro-batch 2 sees base ∪ admitted-batch1 on every tier —
      // byte-for-byte the q143 batch lifecycle's attribution
      assert(byBatch(1L) == fdExpected, byBatch(1L).toString)
      // re-submitting batch1 whole: every doc it ADMITTED is now its
      // own exact dup (fp fold gates the resubmission), the ones it
      // rejected still attribute to their original base matches
      mem.addData(batch1)
      q.processAllAvailable()
      assert(byBatch(2L) == Map(
        7L -> (("exact", 6L)),
        10L -> (("near_dup", 9L)),
        13L -> (("exact", 13L)),
        16L -> (("exact", 16L)),
        19L -> (("exact", 19L))
      ), byBatch(2L).toString)
    } finally q.stop()
  }

  test("fp delta generations + compaction: folded fingerprint gates a " +
    "later exact dup; compaction is invisible, demotes, no-ops") {
    val base = (0 until 40).map(i =>
      (2L * i, s"unique base document number $i about topic t$i"))
      .toDF("doc_id", "text")
    val dir = freshDir()
    AdmissionIndex.buildFpIndex(base, dir)
    val novel = Seq((1001L, "a brand new admitted document"))
      .toDF("doc_id", "text")
    assert(AdmissionIndex.fpProbeOnDriver(novel, dir)._2.isEmpty)
    AdmissionIndex.fpAppendGeneration(novel, dir, "fp-spec-g1")
    val copy = Seq((2001L, "A  brand NEW admitted\tdocument"))
      .toDF("doc_id", "text")
    def probeCopy() = AdmissionIndex.fpProbeOnDriver(copy, dir)._2.toSet
    assert(probeCopy() == Set((2001L, 1001L)), probeCopy().toString)
    // idempotent re-fold
    AdmissionIndex.fpAppendGeneration(novel, dir, "fp-spec-g1")
    assert(probeCopy() == Set((2001L, 1001L)))
    // compaction: bitwise-identical probe, generations demoted, no-op
    AdmissionIndex.fpCompactIndex(spark, dir)
    assert(probeCopy() == Set((2001L, 1001L)),
      "compaction changed the fp probe answer")
    val gens = new java.io.File(s"$dir/delta").listFiles()
    assert(gens != null && gens.forall { g =>
      new String(java.nio.file.Files.readAllBytes(
        g.toPath.resolve("_GRAFT_INDEX_OK")), "UTF-8").contains("\"rows\":0")
    }, "fp generations must demote to empty committed markers")
    AdmissionIndex.fpCompactIndex(spark, dir) // no live gens → no-op
    // the genKey stays committed across compaction
    AdmissionIndex.fpAppendGeneration(novel, dir, "fp-spec-g1")
    assert(probeCopy() == Set((2001L, 1001L)))
  }

  /** A planted mod-4 sfDir for the q145 multi-round stream: base ≡0,
    * rounds 1–3 ≡1/2/3, with a transitivity case per (round, tier) —
    * round 3 must reject dups of what rounds 1 AND 2 admitted. */
  private def plantedFdsCorpus(): String = {
    val sfDir = java.nio.file.Files
      .createTempDirectory("graft-fds-stream").toString
    Seq(
      // base
      (4L, "one two three four five six seven eight nine ten eleven twelve"),
      (8L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"),
      (12L, "mountain river forest desert ocean valley hill lake stream meadow cliff cave"),
      // round 1: 5 exact-dups base 4; 9 and 13 novel → admitted
      (5L, "one two three four five six seven eight nine ten eleven twelve"),
      (9L, "zebra yak xylophone walrus vulture unicorn tiger snake rabbit quail porcupine otter"),
      (13L, "council of ancient mariners charted seven unknown seas beyond the horizon line"),
      // round 2: 6 exact-dups ADMITTED-round-1 9 (case/ws variant);
      // 10 and 14 novel → admitted (10 carries the vector 19 copies)
      (6L, "  ZEBRA yak\txylophone walrus vulture unicorn tiger snake rabbit quail porcupine otter "),
      (10L, "completely different topic discussing culinary techniques and pastry recipes in detail"),
      (14L, "unmatched second round document about astronomy telescopes and distant galaxy clusters"),
      // round 3 — transitivity across BOTH earlier generations:
      // 7 exact-dups round-1 admit 9; 11 exact-dups round-2 admit 14;
      // 15 near-dups round-1 admit 13; 19's VECTOR copies round-2
      // admit 10's; 23 fully novel
      (7L, "zebra yak xylophone walrus vulture unicorn tiger snake rabbit quail porcupine otter"),
      (11L, "UNMATCHED second round document about astronomy telescopes and distant galaxy clusters"),
      (15L, "council of ancient mariners charted seven unknown seas beyond the horizon lines"),
      (19L, "entirely fresh prose describing gardening methods for tomatoes peppers and basil plants"),
      (23L, "final standalone item concerning medieval architecture cathedrals and stone masonry")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    def oneHot(k: Int) = Array.tabulate(8)(i => if (i == k) 1f else 0f)
    Seq(
      (4L, oneHot(2), 0), (8L, oneHot(3), 0), (12L, oneHot(4), 0),
      (10L, oneHot(0), 0), (19L, oneHot(0), 0), (23L, oneHot(1), 0)
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$sfDir/embeddings.parquet")
    sfDir
  }

  test("q145 stream lifecycle: three folded generations gate " +
    "transitively (round 3 rejects dups of rounds 1 AND 2's admits on " +
    "every tier) and the replayed micro-batch delivers round 1 " +
    "byte-identically") {
    val sfDir = plantedFdsCorpus()
    def run() = AdmissionIndex.frontDoorStreamLifecycle(spark, sfDir)
      .as[(Int, Long, String, Long)].collect().toSeq
    val got = run()
    val expected = Seq(
      (1, 5L, "exact", 4L), (1, 9L, "admitted", -1L),
      (1, 13L, "admitted", -1L),
      (2, 6L, "exact", 9L),       // fp fold of round 1
      (2, 10L, "admitted", -1L), (2, 14L, "admitted", -1L),
      (3, 7L, "exact", 9L),       // transitivity to round 1 (fp)
      (3, 11L, "exact", 14L),     // transitivity to round 2 (fp)
      (3, 15L, "near_dup", 13L),  // transitivity to round 1 (minhash)
      (3, 19L, "semantic", 10L),  // transitivity to round 2 (IVF)
      (3, 23L, "admitted", -1L),
      // round 4 = the REPLAY of round 1's micro-batch: same batch id ⇒
      // same genKey ⇒ staged delivery, byte-identical to round 1
      (4, 5L, "exact", 4L), (4, 9L, "admitted", -1L),
      (4, 13L, "admitted", -1L))
    assert(got == expected, got.toString)
    // warm re-run: every batch delivers its staged frame — identical
    assert(run() == expected, "warm stream lifecycle re-run must match")
  }

  test("pairsVsIndexChunked: forced re-chunking (maxDocs = 1, hash " +
    "chunks) ≡ the single-batch pruned probe, pair-set identity") {
    val docs = corpus
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val dir = freshDir()
    AdmissionIndex.buildIndex(base, dir, threshold = 0.5, maxDfFrac = 0.3)
    def collectPairs(df: DataFrame) = df
      .select("batch_doc", "base_doc", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val whole = collectPairs(
      AdmissionIndex.pairsVsIndexPruned(batch, dir, 0.5))
    assert(whole.nonEmpty, "fixture must produce pairs")
    // within the budget: the single pruned probe, no chunk assignment
    var single = Set.empty[(Long, Long, Double)]
    assert(chunkedExecutions { single = collectPairs(
      AdmissionIndex.pairsVsIndexChunked(batch, dir, 0.5)) } == 0,
      "a batch within the budget must not chunk")
    assert(single == whole)
    // maxDocs = 1 over 4 batch docs → ≥2 non-empty hash chunks (and
    // possibly empty ones — both shapes must be handled)
    var chunked = Set.empty[(Long, Long, Double)]
    assert(chunkedExecutions { chunked = collectPairs(
      AdmissionIndex.pairsVsIndexChunked(batch, dir, 0.5,
        maxDocsPerBatch = 1L)) } > 0,
      "the over-budget batch must take the chunked path")
    assert(chunked == whole,
      s"extra=${chunked -- whole} missing=${whole -- chunked}")
    // hashChunks partitions the batch: disjoint chunks, full cover
    val chunks = AdmissionIndex.hashChunks(batch, 1L)
    assert(chunks.size > 1, "an oversized batch must split")
    val ids = chunks.flatMap(_.select("doc_id").as[Long].collect())
    assert(ids.sorted == batch.select("doc_id").as[Long].collect()
      .toSeq.sorted, "chunks must partition the batch exactly")
    // within the operating point: no split, the original frame
    assert(AdmissionIndex.hashChunks(batch, 100L).size == 1)
  }

  test("oversized lifecycle micro-batch re-chunks through " +
    "probeStageFold: staged attribution, delivered rows, and the next " +
    "batch's composed gate are single-batch-identical; the chunked " +
    "round replays idempotently") {
    def run(maxDocs: Long) = {
      val sfDir = plantedFdCorpus()
      val m = 3
      val docs = graft.Tables.documents(spark, sfDir)
      val dir = AdmissionIndex.ensureIndex(spark, sfDir,
        baseMod = m, famTag = "fd")
      val edir = AdmissionIndex.ensureEmbIndex(spark, sfDir,
        baseMod = m, famTag = "fd")
      val fdir = AdmissionIndex.ensureFpIndex(spark, sfDir,
        baseMod = m, famTag = "fd")
      def round() = AdmissionIndex.probeStageFold(
        docs.filter(col("doc_id") % m === 1), spark, sfDir,
        dir, edir, fdir, s"$sfDir|chunkSpec",
        graft.operators.Dedup.DefaultThreshold,
        AdmissionIndex.EmbThreshold, AdmissionIndex.EmbNProbe, maxDocs)
      val adir = round()
      val staged = spark.read.parquet(s"$adir/att")
        .as[(Long, String, Long)].collect().toSeq.sorted
      // replay with the same genKey: committed stage + folds → no-op,
      // delivery byte-identical (the at-least-once bridge, chunked)
      val adir2 = round()
      val staged2 = spark.read.parquet(s"$adir2/att")
        .as[(Long, String, Long)].collect().toSeq.sorted
      assert(adir2 == adir && staged2 == staged,
        "chunked round must replay idempotently")
      val batch2 = AdmissionIndex.frontDoorOn(
        docs.filter(col("doc_id") % m === 2), spark, sfDir,
        dir, edir, fdir, graft.operators.Dedup.DefaultThreshold,
        AdmissionIndex.EmbThreshold, AdmissionIndex.EmbNProbe)
        .as[(Long, String, Long)].collect().toSet
      (staged, batch2)
    }
    // batch1 = 5 docs, 4 of them signable; maxDocs = 2 → 2 hash chunks
    // through the probe
    var chunked: (Seq[(Long, String, Long)], Set[(Long, String, Long)]) = null
    assert(chunkedExecutions { chunked = run(maxDocs = 2L) } > 0,
      "the over-budget round must take the chunked path")
    var single: (Seq[(Long, String, Long)], Set[(Long, String, Long)]) = null
    assert(chunkedExecutions { single = run(maxDocs = Long.MaxValue) } == 0,
      "a round within the budget must not chunk")
    val (stagedChunked, gateChunked) = chunked
    val (stagedSingle, gateSingle) = single
    assert(stagedChunked == stagedSingle,
      s"chunked=$stagedChunked single=$stagedSingle")
    assert(gateChunked == gateSingle,
      s"chunked=$gateChunked single=$gateSingle")
    // and both equal the pinned per-tier expectation
    assert(gateChunked.map(r => r._1 -> ((r._2, r._3))).toMap == fdExpected,
      gateChunked.toString)
  }
}
