package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  IntegerType, LongType, StringType, StructField, StructType}

/** Persisted near-dup admission index — the durable form of the
  * incremental admission gate (q130).
  *
  * `Dedup.incrementalDedup` already avoids base×base pairs, but it
  * re-shingles and re-signs the ENTIRE base corpus on every invocation:
  * per-ingest cost is O(base), which at 100 TB is a full-corpus pass per
  * ingest — the exact thing an admission gate exists to avoid. This
  * module splits the computation at its natural persistence boundary
  * (the reference's analog: the plants task precomputes its ownership
  * map once and every later request is a lookup,
  * plants_classifier.py:206–219):
  *
  *  - [[buildIndex]] runs ONCE per base snapshot: shingle → hot-set →
  *    minhash-sign the base, then sink three parquet tables under one
  *    index directory:
  *      `hot/`   the template-shingle hot set (KB-scale),
  *      `hsets/` (doc_id, hset, sig), directory-partitioned by
  *               `doc_bucket = pmod(hash(doc_id), docBuckets)`,
  *      `bands/` (doc_id, band_key), directory-partitioned by
  *               `band_bucket = pmod(hash(band_key), bandBuckets)`.
  *  - [[probePairs]] runs PER INGEST: shingle/sign only the batch
  *    (O(batch)), then read only the index partitions the batch's band
  *    keys / candidate doc ids hash into — partition pruning makes
  *    per-ingest base IO proportional to the touched buckets, not the
  *    corpus, and nothing base-side is ever re-shingled or re-signed.
  *
  * Directory-partitioned parquet, deliberately NOT a catalog-bucketed
  * table (`Sources.writeBucketed`): bucket metadata lives in the
  * catalog, and the default in-memory catalog does not survive the JVM —
  * a fresh session (every driver Verify/Bench run; every real cluster
  * job) would read the files un-bucketed and lose the pruning. Partition
  * directories ARE the metadata; pruning works across sessions with no
  * metastore. On a deployment with a persistent metastore the bucketed
  * sink is the drop-in alternative (SourcesSpec proves its
  * zero-Exchange probe joins).
  *
  * df-at-build-time semantics: the hot set (template shingles,
  * [[Dedup.DefaultMaxDfFrac]]) is computed over the BASE at build time,
  * persisted, and applied unchanged to every batch probe. It cannot be
  * "df over base+batch" — signatures depend on the filtered sets, so
  * admitting the batch into the statistics would invalidate the
  * persisted signatures. A deployment refreshes the index on snapshot
  * cadence (the hot set drifts at corpus speed, not batch speed). The
  * oracles mirror this exactly: hot-set statistics scoped to the base
  * side, filter applied to both sides.
  *
  * Scale shape at 100 TB: index build is one linear pass per snapshot
  * (amortized over every ingest until the next snapshot); a probe costs
  * O(batch) compute + O(touched buckets) IO. Bucket counts are DERIVED
  * from the base row count at build time ([[bucketCountsFor]]: one
  * bucket ≈ one task's worth of IO, 2^14 cap at 100 TB), recorded in
  * the index marker, and read back by every probe/append — the layout,
  * pruning and probe plan are unchanged by the count.
  *
  * Driver work per probe is a chain of Spark jobs, and at small batch
  * sizes that chain, not executor work, is the probe's latency. So a
  * probe re-derives nothing that cannot change while a root is live:
  *
  *  - frozen reads: a text root's `hot/` and an emb root's `centroids/`
  *    are written once by the build (df- and centroids-at-build-time);
  *    folds add delta generations and compaction rewrites only `hsets`/
  *    `bands`/`fps`/`cells`. Each is read once per committed root
  *    ([[GenerationStore.FrozenMeta]]: keyed on the root's marker, so a rebuild is
  *    re-read; one entry per index family), not once per probe and per
  *    micro-batch;
  *  - declared schemas: every sub-table is read under the schema
  *    declared next to [[GenerationStore.FormatVersion]] ([[SubTableSchemas]]). The
  *    schemas are part of the layout the version names — a schema
  *    change bumps it and re-keys every index dir — so no read needs
  *    parquet schema inference, which ran one Spark job per live root
  *    and sub-table on every probe;
  *  - bucket manifests: each touched-bucket/cell id list is collected in
  *    one job ([[bucketManifest]]), not a shuffle stage plus a collect.
  *
  * Persistence — dir keying, the commit marker, atomic publish, delta
  * generations, compaction, pristine snapshots and build locks — is one
  * protocol for all three tiers, stated in [[GenerationStore]]. Each
  * tier here supplies only its key spelling, base build, generation
  * write and compaction sub-tables. */
object AdmissionIndex {

  /** Bucket-count sizing policy: derived from the BASE row count at
    * build time, so one bucket ≈ one task-sized IO unit at any corpus
    * scale (the r10 counts were fixed local[32]-sized constants
    * documented as deployment knobs; deriving them closes that knob).
    * The chosen counts are recorded in the index marker and every
    * probe/append reads them from there ([[readBucketCounts]]) — layout
    * and probe agree per INDEX, not per binary, so a binary with a new
    * policy still probes old indexes correctly. Power-of-two, clamped
    * to [[MinBuckets]]..[[MaxBuckets]]; at 100 TB both layouts sit at
    * the 2^14 ceiling the module doc describes. Explicit overrides
    * (sweeps, deployments with known task sizing) enter the index KEY,
    * so differently-bucketed indexes of one corpus coexist. */
  val MinBuckets = 16
  val MaxBuckets = 16384
  /** target hset rows per doc bucket */
  val DocsPerBucket = 4096L
  /** target band rows per band bucket (hset rows × b band expansion) */
  val BandRowsPerBucket = 32768L

  private def pow2AtLeast(x: Long): Int = {
    var v = MinBuckets
    while (v < MaxBuckets && v < x) v <<= 1
    v
  }

  /** (bandBuckets, docBuckets) for a base of `baseDocs` docs signed
    * into `bands` bands. */
  def bucketCountsFor(baseDocs: Long, bands: Int): (Int, Int) =
    (pow2AtLeast((baseDocs * bands + BandRowsPerBucket - 1) / BandRowsPerBucket),
     pow2AtLeast((baseDocs + DocsPerBucket - 1) / DocsPerBucket))

  /** (bandBuckets, docBuckets) recorded in an index's marker at build
    * time — the probe/append side of the sizing contract. */
  private def readBucketCounts(dir: String): (Int, Int) = {
    val m = GenerationStore.readMarker(dir)
    def f(k: String) = m.get(k).fold(MinBuckets)(_.toInt)
    (f("bandBuckets"), f("docBuckets"))
  }

  /** The schema of every persisted sub-table, by sub-table name — part
    * of the [[GenerationStore.FormatVersion]] layout: a change here is a layout change
    * and bumps the version, which re-keys every index dir, so no reader
    * ever applies a declared schema to files of another layout. Reads
    * go through [[readSub]], which hands the schema to the reader:
    * parquet schema inference runs a Spark job per read, which made
    * every probe pay one job per live root and sub-table. Partition
    * columns are declared with the type partition discovery infers
    * (int), so a declared read and an inferring read see the same
    * columns in the same order (IndexSchemaSpec pins both). */
  private[operators] val SubTableSchemas: Map[String, StructType] = {
    def st(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    val longs = ArrayType(LongType)
    Map(
      "hot" -> st("h" -> LongType),
      "hsets" -> st("doc_id" -> LongType, "hset" -> longs, "sig" -> longs,
        "doc_bucket" -> IntegerType),
      "bands" -> st("doc_id" -> LongType, "band_key" -> StringType,
        "band_bucket" -> IntegerType),
      "centroids" -> st("idx" -> IntegerType, "qv" -> longs, "n2" -> LongType),
      "cells" -> st("vec_id" -> LongType, "qv" -> longs, "n2" -> LongType,
        "cell" -> IntegerType),
      "fps" -> st("fp" -> StringType, "bid" -> LongType,
        "fp_bucket" -> IntegerType),
      "att" -> st("doc_id" -> LongType, "tier" -> StringType,
        "match_id" -> LongType))
  }

  /** One persisted sub-table of `root`, read under its declared schema
    * — no inference job. */
  private[operators] def readSub(spark: SparkSession, root: String,
                                 sub: String): DataFrame =
    spark.read.schema(SubTableSchemas(sub)).parquet(s"$root/$sub")

  /** Index directory for a corpus path + parameter set
    * ([[GenerationStore.dirFor]]): the key covers every parameter that
    * shapes the persisted bytes. */
  def indexDirFor(docsPath: String, threshold: Double,
                  maxDfFrac: Double,
                  buckets: Option[(Int, Int)] = None): String =
    GenerationStore.dirFor(docsPath, textKey(threshold, maxDfFrac, buckets))

  /** The text tier's content key: threshold, df cut, banding, layout. */
  private def textKey(threshold: Double, maxDfFrac: Double,
                      buckets: Option[(Int, Int)]): String = {
    val (b, r) = Dedup.lshBanding(threshold)
    s"$threshold|$maxDfFrac|b=$b,r=$r|${bucketTag(buckets)}"
  }

  /** Key component for the bucket layout: `auto` = the sizing policy
    * (the derived counts live in the marker, not the key — deriving
    * them needs a base count, which a key must not pay); an explicit
    * override IS the layout and enters the key. */
  private def bucketTag(buckets: Option[(Int, Int)]): String =
    buckets.map { case (bb, db) => s"bk$bb,$db" }.getOrElse("auto")

  /** `famTag`: the OWNING-LIFECYCLE tag of every tier's key. An index
    * accumulates delta generations, so two lifecycles folding into ONE
    * dir would leak each other's admits into their probes (q137's
    * text-only gate admits docs the composed gate sem-rejects — sharing
    * its index made q143's batch2 "see" them). In production that
    * sharing is the point — one corpus, one gate; for independently-
    * specified lifecycles the tag keys them apart. Empty = the default
    * family (existing dirs stay valid). It never enters a pristine
    * snapshot's content key. */
  private def famSuffix(famTag: String): String =
    if (famTag.isEmpty) "" else s"|f$famTag"

  /** Hang-breaker for awaited concurrent index builds: generous enough
    * that no healthy build at any measured scale can trip it (300× built
    * in minutes), bounded so a wedged build fails LOUD (A12) instead of
    * blocking the ingest forever. */
  val DefaultEnsureTimeout: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.FiniteDuration(24, java.util.concurrent.TimeUnit.HOURS)

  /** The text index dir for ANY parameterization — the baseMod/famTag
    * generalization of [[indexDirFor]] (which keeps the historical
    * mod-2 default-family spelling): [[ensureIndex]] and harnesses
    * that wipe-and-rebuild derive names from this one spelling. */
  def textIndexDirFor(docsPath: String, threshold: Double,
                      maxDfFrac: Double, baseMod: Int = 2,
                      buckets: Option[(Int, Int)] = None,
                      famTag: String = ""): String =
    if (baseMod == 2 && famTag.isEmpty)
      indexDirFor(docsPath, threshold, maxDfFrac, buckets)
    else GenerationStore.dirFor(docsPath,
      textKey(threshold, maxDfFrac, buckets) + s"|mod$baseMod" + famSuffix(famTag))

  /** Build-if-absent ([[GenerationStore.ensure]]: thread- and
    * process-safe, sweeps superseded generations, clones a pristine
    * snapshot when one exists). Returns the index dir.
    *
    * `baseMod`: the modulo-split convention for the base side — base =
    * doc_id % baseMod == 0 (2 = the q65 even/odd convention; q137's
    * lifecycle uses 3, q138's compaction lifecycle 4, so disjoint
    * incoming batches exist). Part of the index key: different
    * conventions are different indexes. `famTag`: see [[famSuffix]]. */
  def ensureIndex(spark: SparkSession, sfDir: String,
                  threshold: Double = Dedup.DefaultThreshold,
                  maxDfFrac: Double = Dedup.DefaultMaxDfFrac,
                  baseMod: Int = 2,
                  buckets: Option[(Int, Int)] = None,
                  famTag: String = ""): String = {
    val docsPath = s"$sfDir/documents.parquet"
    GenerationStore.ensure(
      textIndexDirFor(docsPath, threshold, maxDfFrac, baseMod, buckets, famTag),
      GenerationStore.pristineDirFor(docsPath, textKey(threshold, maxDfFrac,
        buckets) + (if (baseMod == 2) "" else s"|mod$baseMod"))) {
      textRoot(graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % baseMod === 0), _, threshold, maxDfFrac, buckets)
    }
  }

  // ---- frozen per-root metadata: read once per committed root ------
  // (hot set, IVF centroids — why they are frozen: module doc)
  /** A text root's template-shingle hot set. */
  private[operators] val hotSets = new GenerationStore.FrozenMeta[Array[Long]](
    (spark, dir) => readSub(spark, dir, "hot").collect().map(_.getLong(0)))

  /** An emb root's centroid summary (qv, n2), in centroid-index order. */
  private[operators] val centroidSets = new GenerationStore.FrozenMeta[Array[(Array[Long], Long)]](
    (spark, dir) => {
      import spark.implicits._
      readSub(spark, dir, "centroids").as[(Int, Array[Long], Long)].collect()
        .sortBy(_._1).map { case (_, qv, n2) => (qv, n2) }
    })

  /** One shingle → hot-filter → sign pass over a batch, under the
    * index's frozen hot set: (doc_id, hset, sig). THE shared per-ingest
    * batch stage — [[probePairsSigned]] probes from it and
    * [[appendGenerationSigned]] folds from it, so a lifecycle caller
    * (probe, then fold the admitted docs) pays it exactly once
    * (profiled as the dominant per-ingest term: ~21 of 47 s warm at the
    * 100× fixture). Docs with < 3 tokens or an all-hot shingle set drop
    * here — identically on the probe and fold sides, and identically to
    * the pre-split shape where each op re-ran the pass itself. */
  def signedBatch(batch: DataFrame, dir: String,
                  threshold: Double = Dedup.DefaultThreshold): DataFrame = {
    val spark = batch.sparkSession
    val (b, r) = Dedup.lshBanding(threshold)
    val hot = hotSets(spark, dir)
    Dedup.applyHotFilter(Dedup.hashShingled(batch), hot)
      .select(col("doc_id"), col("hset"),
        Dedup.permMinsUdf(b * r)(col("hset")).as("sig"))
  }

  /** Fold an ADMITTED batch into the index as a new delta generation —
    * the maintenance half of the ingest loop (build → probe → admit →
    * append), so later probes reject against base ∪ everything admitted
    * so far without any rebuild. Signatures are computed under the
    * index's FROZEN hot set (df-at-build-time: the persisted base
    * signatures are only valid under it, so admitted docs must use it
    * too — the hot set refreshes at snapshot cadence via a rebuild,
    * which is also when a deployment compacts deltas into the base).
    * Idempotent per `genKey` ([[GenerationStore.appendGeneration]]). */
  def appendGeneration(admitted: DataFrame, dir: String, genKey: String,
                       threshold: Double = Dedup.DefaultThreshold): Unit = {
    val signed = signedBatch(admitted, dir, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try appendGenerationSigned(signed, dir, genKey, threshold)
    finally signed.unpersist(false)
  }

  /** Fold an ALREADY-SIGNED admitted frame (doc_id, hset, sig — the
    * [[signedBatch]] shape, normally the probe's own signed input
    * anti-joined against its rejects) into the index as a committed
    * generation, skipping the re-shingle/re-sign the plain
    * [[appendGeneration]] pays. Same idempotence contract. */
  def appendGenerationSigned(signed: DataFrame, dir: String, genKey: String,
                             threshold: Double = Dedup.DefaultThreshold): Unit = {
    val (b, r) = Dedup.lshBanding(threshold)
    GenerationStore.appendGeneration(dir, genKey) { tmp =>
      val rows = signed.count()
      if (rows > 0) writeSigned(signed, tmp, b, r, readBucketCounts(dir))
      rows
    }
  }

  private def bandKeyExpr(sigCol: String, r: Int): String = {
    val parts = (0 until r).map(k => s"$sigCol[band*$r+$k]").mkString(", ")
    s"concat_ws('_', band, $parts)"
  }

  /** A signed frame's band rows: (doc_id, band_key, band_bucket). */
  private def bandRows(sig: DataFrame, b: Int, r: Int,
                       bandBuckets: Int): DataFrame =
    sig
      .select(col("doc_id"),
        explode(expr(s"sequence(0, ${b - 1})")).as("band"), col("sig"))
      .select(col("doc_id"), expr(bandKeyExpr("sig", r)).as("band_key"))
      .withColumn("band_bucket", pmod(hash(col("band_key")), lit(bandBuckets)))

  /** A signed frame's `hsets` and `bands` sub-tables, written into `out`
    * under the (bandBuckets, docBuckets) layout. */
  private def writeSigned(sig: DataFrame, out: String, b: Int, r: Int,
                          buckets: (Int, Int)): Unit = {
    val (bandBuckets, docBuckets) = buckets
    GenerationStore.writePartitioned(
      sig.withColumn("doc_bucket", pmod(hash(col("doc_id")), lit(docBuckets))),
      "doc_bucket", s"$out/hsets")
    GenerationStore.writePartitioned(bandRows(sig, b, r, bandBuckets),
      "band_bucket", s"$out/bands")
  }

  /** Build a text root at `dir` ([[GenerationStore.build]]). */
  def buildIndex(base: DataFrame, dir: String,
                 threshold: Double = Dedup.DefaultThreshold,
                 maxDfFrac: Double = Dedup.DefaultMaxDfFrac,
                 buckets: Option[(Int, Int)] = None): Unit =
    GenerationStore.build(dir)(textRoot(base, _, threshold, maxDfFrac, buckets))

  /** One linear pass over the base corpus → the three persisted tables
    * in `out`; returns the root marker's fields. The shingle stage is
    * persisted for its three consumers (hot-set aggregation, signatures
    * via the filtered view, and the hset sink) and released eagerly —
    * same lifecycle discipline as [[Dedup.minhashPairsPlan]]. */
  private def textRoot(base: DataFrame, out: String, threshold: Double,
                       maxDfFrac: Double,
                       buckets: Option[(Int, Int)]): Seq[(String, Any)] = {
    val spark = base.sparkSession
    import spark.implicits._
    val (b, r) = Dedup.lshBanding(threshold)
    val sh0 = Dedup.hashShingled(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the shingle cache ONCE before hotShingles touches it:
    // its df-rollup plan reads sh0 from two branches (the n-docs
    // broadcast subquery + the main aggregate), and AQE submits both
    // stages concurrently — measured as two simultaneous full shingle
    // passes racing the unbuilt cache per-block (q139 cold: 13.9 s +
    // 9.2 s task time for ONE kernel's worth of work)
    sh0.count()
    try {
      val hot =
        if (maxDfFrac >= 1.0) Array.empty[Long]
        else Dedup.hotShingles(sh0, maxDfFrac)
      val sh = Dedup.applyHotFilter(sh0, hot)
      val sig = sh.select(col("doc_id"), col("hset"),
          Dedup.permMinsUdf(b * r)(col("hset")).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the sizing policy needs the base row count; sig is persisted
        // anyway, so this count is a cached-column pass, not a rescan
        val (bandBuckets, docBuckets) =
          buckets.getOrElse(bucketCountsFor(sig.count(), b))
        writeSigned(sig, out, b, r, (bandBuckets, docBuckets))
        hot.toSeq.toDF("h").coalesce(1)
          .write.mode("overwrite").parquet(s"$out/hot")
        Seq("threshold" -> threshold, "maxDfFrac" -> maxDfFrac, "b" -> b,
          "r" -> r, "bandBuckets" -> bandBuckets, "docBuckets" -> docBuckets)
      } finally sig.unpersist(false)
    } finally sh0.unpersist(false)
  }

  /** Union of one sub-table across every live index root, partition-
    * pruned to the touched bucket/cell ids — the shared scan shape of
    * every batch-side probe. */
  private def prunedUnion(spark: SparkSession, roots: Seq[String],
                          sub: String, partCol: String,
                          touched: Array[Int]): DataFrame =
    roots.map(rt => readSub(spark, rt, sub)
        .filter(col(partCol).isin(touched.map(Int.box).toIndexedSeq: _*)))
      .reduce(_.unionByName(_))

  /** The touched-bucket manifest of a batch: the distinct values of
    * one int column (bucket or cell ids), sorted so `isin` lists and
    * plan dumps are stable. ONE Spark job: each partition dedups its own
    * ids map-side (`mapPartitions`, inside the Dataset's tracked SQL
    * execution) and the driver merges at most partitions × buckets ints.
    * `distinct().collect()` paid an AQE shuffle-stage job plus a result
    * job for the same few ints. */
  private def bucketManifest(df: DataFrame, c: Column): Array[Int] =
    countedManifest(df, c)._1

  /** [[bucketManifest]] plus the number of rows it read, from the same
    * one job: each partition returns its distinct ids and its row
    * count. A caller that needs the row count only to size work (the
    * chunk decision) gets it without a `count()` job of its own. */
  private def countedManifest(df: DataFrame, c: Column): (Array[Int], Long) = {
    import df.sparkSession.implicits._
    val parts = df.select(c).as[Int].mapPartitions { it =>
      val ids = scala.collection.mutable.HashSet.empty[Int]
      var n = 0L
      it.foreach { v => ids += v; n += 1 }
      Iterator((ids.toArray, n))
    }.collect()
    (parts.flatMap(_._1).distinct.sorted, parts.map(_._2).sum)
  }

  /** Each batch doc's best match from (doc, match, score) rows: the
    * highest score, ties to the lowest match id — the `score DESC,
    * match ASC` rank the oracles state, with Spark's double ordering.
    * ONE job and no shuffle: each partition keeps its own best per doc
    * (`mapPartitions` inside the Dataset's SQL execution), so the
    * driver merges at most one row per doc and partition. */
  private def bestPerDoc(pairs: DataFrame): Map[Long, Long] = {
    import pairs.sparkSession.implicits._
    val local = pairs.as[(Long, Long, Double)]
      .mapPartitions(it => bestOf(it).iterator.map { case (d, (m, s)) => (d, m, s) })
      .collect()
    bestOf(local.iterator).map { case (d, (m, _)) => d -> m }
  }

  private def bestOf(rows: Iterator[(Long, Long, Double)]): Map[Long, (Long, Double)] = {
    val best = scala.collection.mutable.HashMap.empty[Long, (Long, Double)]
    rows.foreach { case (d, m, s) =>
      val keep = best.get(d).exists { case (m0, s0) =>
        val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(s0, s)
        c > 0 || (c == 0 && m0 <= m)
      }
      if (!keep) best(d) = (m, s)
    }
    best.toMap
  }

  /** Per-ingest probe: verified cross pairs (a = batch doc, b = base
    * doc, jac ≥ threshold), each pair once (its minimal matching band,
    * row-local). Batch-side work is O(batch); base-side IO is the
    * partition-pruned band scan (only buckets the batch's band keys
    * hash into) plus the partition-pruned hset scan (only buckets the
    * matched candidates' doc ids hash into). The two bucket collects
    * are bounded by the bucket constants; the candidate
    * materialization is the admission contract's matched set, O(batch)
    * in the non-degenerate regime q26's tripwire family guards. The
    * batch side is persisted and AQE broadcast-joins it against the
    * pruned scans when small — the base never shuffles. */
  def probePairs(batch: DataFrame, dir: String,
                 threshold: Double = Dedup.DefaultThreshold): DataFrame = {
    val signed = signedBatch(batch, dir, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try probePairsSigned(signed, dir, threshold)
    finally signed.unpersist(false)
  }

  /** [[probePairs]] from an ALREADY-SIGNED batch (the [[signedBatch]]
    * shape; callers persist it — the frame is read by the band manifest
    * AND the verify join). The lifecycle's shape: sign once, probe from
    * the signed frame, fold its anti-joined survivors via
    * [[appendGenerationSigned]] — one shingle+sign pass per ingest
    * where the split ops pay two. The pruned probe of q134 and the
    * front door ([[probeSignedPairs]], never chunked here), renamed to
    * (a, b, jac) and materialized. */
  def probePairsSigned(signed: DataFrame, dir: String,
                       threshold: Double = Dedup.DefaultThreshold): DataFrame =
    probeSignedPairs(signed.select(col("doc_id").as("a"), col("hset").as("ha"),
        col("sig").as("siga")), dir, threshold, Long.MaxValue,
      DefaultProbeParallelism, DefaultChunkVerifyTimeout, checkpoint = true)(
      _.select(col("batch_doc").as("a"), col("base_doc").as("b"), col("jac")))

  /** q133 driver form: ensure the base-side index for `sfDir` exists
    * (build is the amortized one-time stage; a warm second invocation
    * pays probe cost only), probe the incoming batch (odd doc_ids, q65
    * modulo-split convention), and emit the reject list — each matched
    * batch doc with its best base match (max jaccard, ties to lowest
    * base id). Same output contract as q130; the one semantic delta is
    * documented above (hot-set df statistics over the base at build
    * time, identical on the driver fixtures where the hot set is empty). */
  def admissionReject(spark: SparkSession, sfDir: String,
                      threshold: Double = Dedup.DefaultThreshold,
                      maxDfFrac: Double = Dedup.DefaultMaxDfFrac): DataFrame = {
    val dir = ensureIndex(spark, sfDir, threshold, maxDfFrac)
    val batch = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
    probePairs(batch, dir, threshold)
      .withColumn("rnk", expr(
        "row_number() OVER (PARTITION BY a ORDER BY jac DESC, b ASC)"))
      .filter(col("rnk") === 1)
      .select(col("a").as("batch_doc"), col("b").as("base_doc"),
        round(col("jac"), 4).as("jaccard"))
      .orderBy(col("batch_doc"))
  }

  /** Fully STATELESS probe — every stage is a narrow transform or a
    * join against a static index table, so the same plan runs as a
    * Structured Streaming query over a document stream (stream-static
    * joins, zero state-store rows) AND as a batch query (the oracle
    * twin). Three departures from [[probePairs]], all forced by
    * statelessness:
    *
    *  - no partition-prune collects (the batch's bucket set is not
    *    known at plan time on a stream) — the static sides are planned
    *    per micro-batch as ordinary pruned-column parquet scans;
    *  - no `distinct()` for pair dedup: a pair matching in several
    *    bands would emit once per band. Instead each row carries BOTH
    *    full signatures and keeps only the MINIMAL matching band —
    *    `NOT exists(j < band, sig_a[j·r..] = sig_b[j·r..])` is
    *    row-local, so each verified pair is emitted exactly once with
    *    no shuffle and no state;
    *  - verification is row-local too (both hsets are on the row after
    *    the hset join): the codegen'd sorted-intersect walk plus the
    *    same algebraic prefilter as [[Dedup.verifyJaccardTwoSided]].
    *
    * Output: verified cross pairs (batch_doc, base_doc, jaccard), NOT
    * the best-match rank — ranking per batch doc is an aggregation,
    * which on a stream means state; the gate's decision ("matched at
    * all → reject") needs only the pair set. Callers wanting the rank
    * run [[admissionReject]] on the micro-batch output. */
  def pairsVsIndex(batchDocs: DataFrame, dir: String,
                   threshold: Double = Dedup.DefaultThreshold): DataFrame = {
    val spark = batchDocs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val (b, r) = Dedup.lshBanding(threshold)
    val hot = hotSets(spark, dir)
    val shB = Dedup.applyHotFilter(Dedup.hashShingled(batchDocs), hot)
    val sigB = shB.select(col("doc_id").as("a"), col("hset").as("ha"),
      Dedup.permMinsUdf(b * r)(col("hset")).as("siga"))
    val bandsB = sigB
      .select(col("a"), col("ha"), col("siga"),
        explode(expr(s"sequence(0, ${b - 1})")).as("band"))
      .withColumn("band_key", expr(bandKeyExpr("siga", r)))
    val roots = GenerationStore.indexRoots(dir)
    val baseBands = roots.map(rt => readSub(spark, rt, "bands")
        .select(col("doc_id").as("bb"), col("band_key")))
      .reduce(_.unionByName(_))
    val baseH = roots.map(rt => readSub(spark, rt, "hsets")
        .select(col("doc_id").as("b"), col("hset").as("hb"), col("sig").as("sigb")))
      .reduce(_.unionByName(_))
    val rMatch = (0 until r)
      .map(k => s"siga[j*$r+$k] = sigb[j*$r+$k]").mkString(" AND ")
    val d = threshold / (1.0 + threshold)
    bandsB
      .join(baseBands, Seq("band_key"))
      .join(baseH, col("bb") === col("b"))
      .filter(expr(
        s"NOT exists(filter(sequence(0, ${b - 1}), j -> j < band), j -> $rMatch)"))
      .withColumn("inter", expr("graft_sorted_intersect_size(ha, hb)"))
      .withColumn("stot", size(col("ha")) + size(col("hb")))
      .filter(col("inter") >= lit(d) * col("stot"))
      .withColumn("jac",
        col("inter") / (col("stot") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("a").as("batch_doc"), col("b").as("base_doc"),
        round(col("jac"), 4).as("jaccard"))
  }

  /** [[pairsVsIndex]] with the [[probePairs]] partition-prune collects
    * put back — the per-micro-batch PRODUCTION form (r10 verdict item
    * 1). Statelessness forced pairsVsIndex to plan the index tables as
    * full narrow scans: the batch's bucket set is unknown when a
    * streaming plan is compiled, and at a 2^14-bucket 100 TB index
    * that is a full band-table scan per micro-batch. Inside a
    * `foreachBatch` the micro-batch IS static, so the two bounded
    * collects (≤bandBuckets and ≤docBuckets ints) are legal again and
    * per-micro-batch index IO drops to O(touched buckets) —
    * [[startNearDupStream]] wires exactly that. Output ≡ pairsVsIndex
    * row-for-row: every batch band key hashes into a collected bucket
    * and every matched candidate's doc bucket is collected, so pruning
    * removes only rows that could not join; the min-band row-local
    * pair dedup and the row-local verify are unchanged (still no
    * `distinct()`, no aggregation, no state). */
  def pairsVsIndexPruned(batchDocs: DataFrame, dir: String,
                         threshold: Double = Dedup.DefaultThreshold): DataFrame =
    pairsVsIndexPrunedPlan(batchDocs, dir, threshold) match {
      case (plan, release) =>
        try plan.localCheckpoint(true) finally release()
    }

  /** The pruned probe as an un-materialized plan plus the release hook
    * for its two input caches — split out so AdmissionIndexSpec can
    * execute the plan and assert on its FileSourceScanExec partition
    * metrics (localCheckpoint replaces the plan with the checkpointed
    * RDD, erasing the scans the spec needs to see). Callers other than
    * the spec use [[pairsVsIndexPruned]]. */
  private[operators] def pairsVsIndexPrunedPlan(
      batchDocs: DataFrame, dir: String,
      threshold: Double): (DataFrame, () => Unit) = {
    val sigA = probeSigned(batchDocs, dir, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (touched, _) = bandManifest(sigA, dir, threshold)
    val (plan, release) = signedPairsPlan(sigA, dir, threshold, touched)
    (plan.select(col("batch_doc"), col("base_doc"),
        round(col("jac"), 4).as("jaccard")),
      () => { release(); sigA.unpersist(false); () })
  }

  /** A batch's probe-side signatures, (a, ha, siga): [[signedBatch]]
    * under the probe's column names. */
  private def probeSigned(batch: DataFrame, dir: String,
                          threshold: Double): DataFrame =
    signedBatch(batch, dir, threshold)
      .select(col("doc_id").as("a"), col("hset").as("ha"), col("sig").as("siga"))

  /** The touched band-bucket manifest of a signed frame (cols a, siga)
    * and the number of signed docs in it, from ONE job: the manifest
    * job reads every band row, and each signed doc yields exactly `b`
    * of them, so the doc count the chunk decision needs comes with the
    * buckets instead of from a `count()` of its own. */
  private def bandManifest(sigA: DataFrame, dir: String,
                           threshold: Double): (Array[Int], Long) = {
    val (b, r) = Dedup.lshBanding(threshold)
    val (bandBuckets, _) = readBucketCounts(dir)
    val (touched, rows) = countedManifest(
      sigA.select(col("siga"), explode(expr(s"sequence(0, ${b - 1})")).as("band")),
      pmod(hash(expr(bandKeyExpr("siga", r))), lit(bandBuckets)))
    (touched, rows / b)
  }

  /** The pruned pair probe from a PERSISTED signed frame (cols a, ha,
    * siga) whose band manifest is `touched`: verified (batch_doc,
    * base_doc, jac) with jac at full precision, un-materialized, plus
    * the release hook of its one cache (the band-matched rows, read by
    * the candidate manifest and the verify join). The band rows are
    * re-derived from the signed frame's cache rather than persisted:
    * since the manifest came with the doc count, the join is their one
    * reader. */
  private def signedPairsPlan(sigA: DataFrame, dir: String,
      threshold: Double, touched: Array[Int]): (DataFrame, () => Unit) = {
    val spark = sigA.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val (b, r) = Dedup.lshBanding(threshold)
    val (_, docBuckets) = readBucketCounts(dir)
    val bandsB = sigA
      .select(col("a"), col("ha"), col("siga"),
        explode(expr(s"sequence(0, ${b - 1})")).as("band"))
      .withColumn("band_key", expr(bandKeyExpr("siga", r)))
    val roots = GenerationStore.indexRoots(dir)
    val baseBands = prunedUnion(spark, roots, "bands", "band_bucket", touched)
      .select(col("doc_id").as("bb"), col("band_key"))
    val matched = bandsB.join(baseBands, Seq("band_key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candBuckets =
      bucketManifest(matched, pmod(hash(col("bb")), lit(docBuckets)))
    val baseH = prunedUnion(spark, roots, "hsets", "doc_bucket", candBuckets)
      .select(col("doc_id").as("bdoc"), col("hset").as("hb"),
        col("sig").as("sigb"))
    val rMatch = (0 until r)
      .map(k => s"siga[j*$r+$k] = sigb[j*$r+$k]").mkString(" AND ")
    val d = threshold / (1.0 + threshold)
    val plan = matched
      .join(baseH, col("bb") === col("bdoc"))
      .filter(expr(
        s"NOT exists(filter(sequence(0, ${b - 1}), j -> j < band), j -> $rMatch)"))
      .withColumn("inter", expr("graft_sorted_intersect_size(ha, hb)"))
      .withColumn("stot", size(col("ha")) + size(col("hb")))
      .filter(col("inter") >= lit(d) * col("stot"))
      .withColumn("jac",
        col("inter") / (col("stot") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("a").as("batch_doc"), col("bb").as("base_doc"), col("jac"))
    (plan, () => { matched.unpersist(false); () })
  }

  /** The measured micro-batch operating point: ~15k docs per probe
    * round. ADMISSION_SWEEP_CHUNK_r13 (100× fixture, 250k-doc batch):
    * feeding the whole batch as ONE probe read 374 s while k = 16
    * chunks of ≈15.6k docs read 232 s total — the per-chunk candidate
    * join stays inside executor memory instead of spilling, at
    * identical pair output (the probe is per-doc independent).
    * Entry points that accept arbitrary micro-batches
    * ([[startNearDupStream]], [[startFrontDoorLifecycleStream]],
    * [[pairsVsIndexChunked]]) re-chunk anything larger through the
    * same probe, so the single-batch worst case cannot occur by
    * default; pass `maxDocsPerBatch = Long.MaxValue` to opt out. */
  val DefaultMaxDocsPerBatch: Long = 15000L

  /** Split an oversized batch into ceil(n/maxDocs) probe chunks by
    * doc_id HASH, not contiguous id ranges: skewed corpora cluster
    * their heavy documents in id ranges (the r13 chunk sweep's k = 16
    * tail read 25–48 s vs an 8 s median on range chunks), and hashing
    * levels per-chunk latency at the same total. xxhash64 is
    * codegen'd and deterministic, so a foreachBatch replay reproduces
    * the same chunks. Callers persist `batch` first — this counts it
    * and each chunk re-filters it. Returns the batch unsplit when it is
    * already within the operating point.
    *
    * It sizes by batch ROWS on purpose: its caller is the fdchunk
    * sweep's serial baseline, which splits the raw batch before any
    * tier has signed it, so a signed-doc count would cost a
    * shingle+sign pass the baseline does not otherwise run. The probe
    * paths size by signed docs ([[chunkCount]]). The two counts differ
    * only by the docs too short to sign, so at most the chunk count at
    * a ceil boundary can differ, never the output (per-doc
    * independence). */
  private[graft] def hashChunks(batch: DataFrame,
                                maxDocs: Long): Seq[DataFrame] = {
    require(maxDocs > 0, s"maxDocsPerBatch must be positive, got $maxDocs")
    val n = batch.count()
    if (n <= maxDocs) Seq(batch)
    else {
      val k = chunkCount(n, maxDocs)
      (0 until k).map(i => batch.filter(chunkExpr(col("doc_id"), k) === i))
    }
  }

  /** ceil(n/maxDocs) capped at 4096 — THE chunk-count formula, one
    * definition shared by [[hashChunks]], [[pairsVsIndexChunked]] and
    * the front door's chunked tier-2 probe (r15 ADVICE: two drifting
    * copies would silently break the foreachBatch-replay
    * chunk-determinism claim and the sweep's serial-vs-deployed
    * comparison). `n` is the batch's SIGNED doc count on the probe
    * paths ([[probeSignedPairs]]), read off their band manifest
    * ([[bandManifest]]: b band rows per signed doc), so sizing costs no
    * job; docs too short to sign never reach the verify the chunks
    * bound. [[hashChunks]] counts batch rows instead (see there). The
    * count is a function of the batch alone, so a replayed micro-batch
    * chunks the same. Written without `n + maxDocs` so that
    * `maxDocs = Long.MaxValue` (never chunk) cannot overflow. */
  private[operators] def chunkCount(n: Long, maxDocs: Long): Int =
    if (n <= maxDocs) 1 else math.min((n - 1) / maxDocs + 1, 4096L).toInt

  /** The deterministic chunk assignment every chunked path shares:
    * pmod(xxhash64(doc id), k) — codegen'd, replay-stable under
    * foreachBatch, skew-leveling on id-clustered corpora. */
  private def chunkExpr(id: Column, k: Int): Column =
    pmod(xxhash64(id), lit(k.toLong)).cast("int")

  /** Per-chunk verify-round await bound — the A12 fail-loud contract
    * applied to the chunked probe's own driver pool (r15 verdict item
    * 5: `Await.result(_, Duration.Inf)` would hang forever on a wedged
    * Spark job). The measured 100× per-chunk envelope is ≤48 s
    * (ADMISSION_SWEEP_CHUNK_r13's worst hash-chunk tail), so 30 minutes
    * is ~35× headroom: no healthy chunk can trip it, a genuinely wedged
    * round surfaces LOUD with its chunk id. Awaits run in chunk order
    * while the rounds overlap in the pool, so a later chunk's await
    * clock starts only after earlier chunks returned — the bound
    * detects wedged rounds; it is not a wall-clock SLA. */
  val DefaultChunkVerifyTimeout: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.FiniteDuration(30, java.util.concurrent.TimeUnit.MINUTES)

  /** How many chunk verify rounds [[pairsVsIndexChunked]] overlaps
    * from its bounded driver pool (r14 verdict item 1). The per-chunk
    * wall past the operating point is dominated by fixed per-round
    * overhead (ADMISSION_SWEEP_CHUNK_r14: k = 64 read 202 s total at
    * 3.2 s/chunk), which overlapping hides; 3 keeps peak concurrent
    * verify-join width at 3 chunks — inside the executor-memory margin
    * the ~15k operating point was sized for. */
  val DefaultProbeParallelism: Int = 3

  /** [[pairsVsIndexPruned]] at the measured operating point: an
    * oversized batch is hash-chunked and probed chunk-by-chunk so the
    * expensive candidate verify join stays per-chunk-bounded — but
    * since r15 the BAND side is shared, not per-chunk (r14 verdict
    * item 2): the batch is shingled+signed once, its band keys joined
    * against ONE partition-pruned scan of the index band tables (the
    * touched-bucket manifest = the union of every chunk's buckets),
    * and only the verify stage — re-attaching both signature arrays
    * and walking the sorted intersect — runs per chunk. The shared
    * band join shuffles three scalar columns per band row (the old
    * per-chunk form shuffled b copies of both signature arrays AND
    * re-read every band bucket two chunks touched — the measured 2×
    * io trade at 100×). Chunk rounds run [[DefaultProbeParallelism]]-
    * wide from a bounded driver pool (the MLOps.fitPairModels idiom);
    * each round still materializes via localCheckpoint, so peak
    * memory is per-chunk × parallelism, never per-batch. The probe is
    * stateless and per-doc independent, so the unioned output is the
    * single-batch output exactly — AdmissionIndexSpec pins the set
    * equality. */
  def pairsVsIndexChunked(batchDocs: DataFrame, dir: String,
      threshold: Double = Dedup.DefaultThreshold,
      maxDocsPerBatch: Long = DefaultMaxDocsPerBatch,
      probeParallelism: Int = DefaultProbeParallelism,
      chunkVerifyTimeout: scala.concurrent.duration.FiniteDuration =
        DefaultChunkVerifyTimeout): DataFrame = {
    require(maxDocsPerBatch > 0,
      s"maxDocsPerBatch must be positive, got $maxDocsPerBatch")
    // sign the whole batch ONCE (shingle + permMins is the dominant
    // batch-side term); both paths read the signed cache
    val sigA = probeSigned(batchDocs, dir, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // rounding after the materialization is row-local — same q134
    // output, and the probe's full-precision jac stays available to the
    // front door's best-match rank
    try probeSignedPairs(sigA, dir, threshold, maxDocsPerBatch,
        probeParallelism, chunkVerifyTimeout, checkpoint = true)(identity)
      .select(col("batch_doc"), col("base_doc"),
        round(col("jac"), 4).as("jaccard"))
    finally { sigA.unpersist(false); () }
  }

  /** The pair probe of a PERSISTED signed frame (cols a, ha, siga) at
    * the operating point — the ONE signed-frame → pairs body, shared by
    * [[pairsVsIndexChunked]] (q134/q148), [[probePairsSigned]] (q133,
    * q137/q138) and the front door: ONE band manifest job yields the
    * touched buckets and the signed-doc count ([[bandManifest]]); a
    * batch within `maxDocsPerBatch` signed docs runs the single pruned
    * probe ([[signedPairsPlan]]), a larger one the shared-manifest
    * chunked verify ([[chunkedPairsCore]]) with chunks assigned as
    * [[hashChunks]] assigns them ([[chunkExpr]]). `use` consumes the
    * pairs (batch_doc, base_doc, jac at full precision) before the
    * probe's caches are released. The chunked path hands it the union
    * of its already-materialized rounds; the single path hands it the
    * un-materialized plan, or with `checkpoint` the plan's eager
    * `localCheckpoint` — NOT a persist: the checkpoint materializes the
    * pairs before the input caches are released, and its blocks go
    * back to the ContextCleaner once the returned frame is unreachable,
    * where a plain persist sat in the CacheManager until someone
    * unpersisted it (one leaked result per ingest in a long-lived loop,
    * r10 ADVICE). */
  private def probeSignedPairs[T](sigA: DataFrame, dir: String,
      threshold: Double, maxDocsPerBatch: Long, parallelism: Int,
      verifyTimeout: scala.concurrent.duration.FiniteDuration,
      checkpoint: Boolean)(use: DataFrame => T): T = {
    val (touched, signedDocs) = bandManifest(sigA, dir, threshold)
    val k = chunkCount(signedDocs, maxDocsPerBatch)
    if (k <= 1) {
      val (plan, release) = signedPairsPlan(sigA, dir, threshold, touched)
      try use(if (checkpoint) plan.localCheckpoint(true) else plan)
      finally release()
    } else use(chunkedPairsCore(sigA.withColumn("chunk", chunkExpr(col("a"), k)),
      dir, threshold, k, parallelism, verifyTimeout, touched))
  }

  /** The shared-manifest chunked pair probe from an already-signed,
    * already-chunk-tagged frame `sigB` (cols a, ha, siga, chunk; read
    * from a signed frame the caller PERSISTED) whose band manifest is
    * `touched` — the oversized-batch path of [[probeSignedPairs]], for
    * q134/q148 and the composed front door's tier 2 alike. The batch's
    * band keys ride as NARROW rows (scalar columns, no signature arrays)
    * into ONE partition-pruned scan of the union of every chunk's
    * touched band buckets; only the verify stage — re-attaching both
    * signature arrays and walking the sorted intersect — runs per
    * chunk, `parallelism`-wide from a bounded driver pool (the
    * MLOps.fitPairModels idiom). Returns (batch_doc, base_doc, jac)
    * with jac at FULL precision: q134 rounds it for its contract; the
    * front door ranks best-match on the unrounded value, as on the
    * single path (rounding before ranking could flip a rank-1 tie).
    *
    * Memory shape (r15 ADVICE wording): the verify-JOIN width is
    * per-chunk × parallelism (each round materializes via
    * localCheckpoint); the shared signed frame and the narrow matched
    * frame remain batch-sized, disk-spillable caches for the duration
    * of the rounds. Every verify round is awaited with a bounded
    * `verifyTimeout` and fails LOUD with its chunk id — on a thrown
    * round (wrapped with the id) and on a wedged round (timeout) alike
    * — the A12 contract applied to the probe's own pool. */
  private def chunkedPairsCore(sigB: DataFrame, dir: String,
      threshold: Double, k: Int, parallelism: Int,
      verifyTimeout: scala.concurrent.duration.FiniteDuration,
      touched: Array[Int]): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val spark = sigB.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val (b, r) = Dedup.lshBanding(threshold)
    val (_, docBuckets) = readBucketCounts(dir)
    // NARROW band rows — no signature arrays; the arrays re-attach
    // per chunk from sigB, so this one shared join shuffles scalar
    // columns instead of b copies of each array per doc
    val bandsB = sigB
      .select(col("a"), col("chunk"), col("siga"),
        explode(expr(s"sequence(0, ${b - 1})")).as("band"))
      .select(col("a"), col("chunk"), col("band"),
        expr(bandKeyExpr("siga", r)).as("band_key"))
    val roots = GenerationStore.indexRoots(dir)
    val baseBands = prunedUnion(spark, roots, "bands", "band_bucket", touched)
      .select(col("doc_id").as("bb"), col("band_key"))
    // ONE shared band join: every touched bucket file is scanned once
    // for the whole batch (the r14 per-chunk form re-read every bucket
    // two chunks touched); the first round's manifest materializes it
    val matched = bandsB.join(baseBands, Seq("band_key"))
      .select(col("a"), col("chunk"), col("band"), col("bb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rMatch = (0 until r)
        .map(o => s"siga[j*$r+$o] = sigb[j*$r+$o]").mkString(" AND ")
      val d = threshold / (1.0 + threshold)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, parallelism))
      try {
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(pool)
        val rounds = (0 until k).map { i =>
          Future {
            try {
              val mi = matched.filter(col("chunk") === i)
              val candBuckets =
                bucketManifest(mi, pmod(hash(col("bb")), lit(docBuckets)))
              val baseH = prunedUnion(spark, roots, "hsets", "doc_bucket",
                  candBuckets)
                .select(col("doc_id").as("bdoc"), col("hset").as("hb"),
                  col("sig").as("sigb"))
              // re-attach the batch-side arrays for THIS chunk only,
              // then the row-local min-band dedup + verify — identical
              // semantics to pairsVsIndexPruned, per-chunk width
              mi.join(sigB.filter(col("chunk") === i)
                  .select(col("a"), col("ha"), col("siga")), Seq("a"))
                .join(baseH, col("bb") === col("bdoc"))
                .filter(expr(
                  s"NOT exists(filter(sequence(0, ${b - 1}), j -> j < band), j -> $rMatch)"))
                .withColumn("inter", expr("graft_sorted_intersect_size(ha, hb)"))
                .withColumn("stot", size(col("ha")) + size(col("hb")))
                .filter(col("inter") >= lit(d) * col("stot"))
                .withColumn("jac",
                  col("inter") / (col("stot") - col("inter")).cast("double"))
                .filter(col("jac") >= threshold)
                .select(col("a").as("batch_doc"), col("bb").as("base_doc"),
                  col("jac"))
                .localCheckpoint(true)
            } catch {
              case scala.util.control.NonFatal(e) =>
                throw new IllegalStateException(
                  s"chunked probe verify round for chunk $i/$k failed: " +
                    s"${e.getMessage}", e)
            }
          }
        }
        rounds.zipWithIndex.map { case (f, i) =>
          try Await.result(f, verifyTimeout)
          catch {
            case _: java.util.concurrent.TimeoutException =>
              throw new IllegalStateException(
                s"chunked probe verify round for chunk $i/$k exceeded " +
                  s"$verifyTimeout — failing loud (A12) instead of " +
                  "hanging the pool on a wedged job")
          }
        }.reduce(_.unionByName(_))
      } finally { pool.shutdownNow(); () }
    } finally { matched.unpersist(false); () }
  }

  /** The production streaming near-dup gate: the stream wrapped in
    * `foreachBatch`, each micro-batch probed via [[pairsVsIndexChunked]]
    * (an oversized batch re-chunks to the measured
    * [[DefaultMaxDocsPerBatch]] operating point — output identical by
    * per-doc independence) and handed (materialized) to `sink` with
    * its batch id. Zero streaming state — the probe is stateless per
    * micro-batch and emission is exactly-once per pair within a batch
    * (min-band); sinks needing cross-restart idempotence key on
    * (batchId, pair), the standard foreachBatch contract. */
  def startNearDupStream(streamDocs: DataFrame, dir: String,
      threshold: Double = Dedup.DefaultThreshold,
      maxDocsPerBatch: Long = DefaultMaxDocsPerBatch,
      skip: Long => Boolean = _ => false)
      (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    streamDocs.writeStream
      .foreachBatch((mb: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                     id: Long) =>
        // `skip` short-circuits batches the sink would discard anyway
        // (e.g. [[sunkCommitted]] ids on an at-least-once replay): the
        // probe's eager legs (persist/count/pruned-scan collects) run at
        // DataFrame-construction time, so without the gate a replayed
        // committed batch pays the full probe and throws it away
        // (guide §1.2: don't compute what you discard). Delivery is
        // unchanged — a skipped id is exactly one whose sink is a no-op.
        if (!skip(id)) sink(
          pairsVsIndexChunked(mb.toDF(), dir, threshold, maxDocsPerBatch), id))
      .start()

  /** Committed-batch predicate for [[exactlyOnceParquetSink]]'s store —
    * the `skip` argument that makes a replayed committed id free. */
  def sunkCommitted(outDir: String): Long => Boolean = id =>
    GenerationStore.committed(s"$outDir/batch=$id")

  /** The cross-restart exactly-once sink the stream docs promise
    * (r14 verdict item 6): [[startNearDupStream]] /
    * [[startFrontDoorLifecycleStream]] deliver at-least-once per
    * foreachBatch contract — a sink that must not double-count keys
    * its writes on the batch id, marker-committed exactly like the
    * generation folds ([[GenerationStore.commit]]). Each batch lands at
    * `outDir/batch=<id>` through a scratch dir beside it (same
    * filesystem, so the rename stays atomic): a crash mid-write leaves
    * an invisible markerless dir the replay replaces; a committed id is
    * skipped outright, so a replayed batch cannot duplicate rows (the
    * staged-frame delivery upstream makes the replayed rows
    * byte-identical anyway — this closes the sink half). Rows gain a
    * `batch_id` provenance column. Read back the committed batches with
    * [[readSunk]] — it lists only marker-committed dirs, so a reader can
    * never observe a half-written batch. Reference analog: the A12
    * silent-loss adjudication (worker.py:124–129) this engine inverts —
    * fail loud or deliver exactly once, never drop.
    *
    * Concurrency contract: one foreachBatch writer per outDir is the
    * intended deployment (Structured Streaming guarantees it within a
    * query via the checkpoint lock). Same-id races from a SECOND
    * process (a misconfigured twin pipeline) resolve as any two racing
    * publishers do: exactly one rename wins, the loser discards its
    * copy. */
  def exactlyOnceParquetSink(outDir: String): (DataFrame, Long) => Unit =
    (df, id) =>
      GenerationStore.commit(s"$outDir/batch=$id",
          GenerationStore.scratchDir(outDir, s"batch-$id")) { tmp =>
        df.withColumn("batch_id", lit(id))
          .write.mode("overwrite").parquet(s"$tmp/rows")
        Seq("batchId" -> id, "sink" -> true)
      }

  /** The rows [[exactlyOnceParquetSink]] commits for the near-dup
    * stream: [[startNearDupStream]]'s pairs plus the sink's `batch_id`.
    * The sink's own writes fix this schema, as the index writers fix
    * [[SubTableSchemas]], so [[readSunk]] hands it to the reader and
    * runs no parquet schema-inference job. */
  private[operators] val SunkSchema: StructType = StructType(Seq(
    StructField("batch_doc", LongType), StructField("base_doc", LongType),
    StructField("jaccard", DoubleType), StructField("batch_id", LongType)))

  /** Every batch [[exactlyOnceParquetSink]] has COMMITTED under
    * `outDir`, read as near-dup pair rows under [[SunkSchema]] —
    * markerless (crashed) dirs are invisible. At least one committed
    * batch is required. */
  def readSunk(spark: SparkSession, outDir: String): DataFrame = {
    val committed = Option(new java.io.File(outDir).list()).toSeq.flatten
      .filter(n => n.startsWith("batch=") &&
        GenerationStore.committed(s"$outDir/$n"))
      .map(n => s"$outDir/$n/rows").sorted
    require(committed.nonEmpty, s"no committed batches under $outDir")
    spark.read.schema(SunkSchema).parquet(committed: _*)
  }

  /** q134 driver form: the stateless probe's BATCH twin over the
    * modulo-split convention, sorted for the oracle compare — since
    * r11 the PRUNED form ([[pairsVsIndexPruned]]), i.e. exactly what
    * one [[startNearDupStream]] micro-batch executes. The un-pruned
    * single-plan form [[pairsVsIndex]] remains the spec-replayed
    * stream-static shape (AdmissionIndexSpec pins pruned ≡ un-pruned ≡
    * stream ≡ oracle). */
  def streamNearDup(spark: SparkSession, sfDir: String,
                    threshold: Double = Dedup.DefaultThreshold,
                    maxDfFrac: Double = Dedup.DefaultMaxDfFrac): DataFrame = {
    val dir = ensureIndex(spark, sfDir, threshold, maxDfFrac)
    val batch = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
    // the chunked form IS the streaming default now — at sf0.01 the
    // batch is under the operating point (one chunk ≡ the old plan);
    // at 100× this is the measured k≈17 hash-chunked path, not the
    // 374 s single-batch worst case
    pairsVsIndexChunked(batch, dir, threshold)
      .orderBy(col("batch_doc"), col("base_doc"))
  }

  /** q148 driver form — the exactly-once sink + [[readSunk]] ROUND TRIP
    * under the oracle (r15 verdict item 2: the sink was the one durable
    * artifact pinned only by spec). Drives [[startNearDupStream]] over
    * TWO micro-batches of the odd half (residues 1 then 3 mod 4 —
    * batch ids 0 and 1) into [[exactlyOnceParquetSink]], then REPLAYS
    * batch 0 as a second stream — the committed id must be a no-op —
    * and reads the sunk store back. Exactly-once IS the oracle pin: a
    * duplicated batch doubles rows, a dropped one halves them, either
    * fails the hash against the batch-twin oracle, which models each
    * cross pair ONCE with batch_id derived from its residue. The sink
    * dir lives under the staleness-keyed index dir and is wiped at
    * entry so every run is a fresh round trip — the replay INSIDE the
    * run is what exercises the committed-id path. The MemoryStream
    * feed is the harness's micro-batch boundary control (the q145
    * pattern), not a data-path collect. */
  def streamNearDupSunk(spark: SparkSession, sfDir: String,
      threshold: Double = Dedup.DefaultThreshold,
      maxDfFrac: Double = Dedup.DefaultMaxDfFrac): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = ensureIndex(spark, sfDir, threshold, maxDfFrac)
    val out = s"$dir/sunk148"
    GenerationStore.deleteRec(java.nio.file.Paths.get(out))
    // one collect of the odd half, split per residue on the driver in
    // scan order
    val odd = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .filter(col("doc_id") % 2 === 1).collect().toSeq
    val batches = Seq(1L, 3L).map(res => odd.filter(_._1 % 4 == res))
    def drive(bs: Seq[Seq[(Long, String)]]): Unit = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = startNearDupStream(mem.toDF().toDF("doc_id", "text"), dir,
        threshold, skip = sunkCommitted(out))(exactlyOnceParquetSink(out))
      try bs.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    drive(batches)            // batch ids 0 (res 1) and 1 (res 3)
    drive(Seq(batches.head))  // replay: id 0 again — committed no-op
    readSunk(spark, out)
      .select(col("batch_id"), col("batch_doc"), col("base_doc"),
        col("jaccard"))
      .orderBy(col("batch_id"), col("batch_doc"), col("base_doc"))
  }

  /** q137 driver form — the FULL ingest lifecycle over one index:
    * build (base = doc_id % 3 == 0) → probe batch1 (% 3 == 1) → fold
    * batch1's ADMITTED docs into the index as a delta generation →
    * probe batch2 (% 3 == 2). Output = batch2's reject list, whose base
    * side spans base ∪ admitted-batch1 — the property that makes the
    * gate an actual gate: what round 1 admitted, round 2 cannot
    * duplicate. All signatures under the base's frozen hot set; the
    * oracle re-derives admitted-batch1 from the same all-pairs table.
    * Deterministic across re-runs: the index is keyed build-once and
    * the generation append is idempotent per genKey. */
  def admissionLifecycle(spark: SparkSession, sfDir: String,
                         threshold: Double = Dedup.DefaultThreshold,
                         maxDfFrac: Double = Dedup.DefaultMaxDfFrac): DataFrame =
    lifecycleCore(spark, sfDir, threshold, maxDfFrac,
      m = 3, genTag = "gen1", compact = false)

  /** q138 driver form — the lifecycle with the COMPACTION maintenance
    * step in the loop (r10 verdict item 2), on its own mod-4 index so
    * it never couples to q137's mod-3 state: build (base = doc_id % 4
    * == 0) → probe batch1 (% 4 == 1) → fold its admitted docs in →
    * [[compactIndex]] → probe batch2 (% 4 == 2). The oracle is the
    * plain lifecycle oracle at mod 4 — it models NO compaction, which
    * is exactly the pin: compaction must be invisible to every probe
    * answer (IO-only maintenance), and idempotent on warm re-runs
    * (committed generation skips the fold; a compacted index has no
    * live deltas, so re-compaction is a no-op). */
  def admissionCompaction(spark: SparkSession, sfDir: String,
                          threshold: Double = Dedup.DefaultThreshold,
                          maxDfFrac: Double = Dedup.DefaultMaxDfFrac): DataFrame =
    lifecycleCore(spark, sfDir, threshold, maxDfFrac,
      m = 4, genTag = "genC1", compact = true)

  private def lifecycleCore(spark: SparkSession, sfDir: String,
                            threshold: Double, maxDfFrac: Double,
                            m: Int, genTag: String,
                            compact: Boolean): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    val dir = ensureIndex(spark, sfDir, threshold, maxDfFrac, baseMod = m)
    val genKey = s"$sfDir|$genTag"
    // round 1 (probe batch1 + fold its admitted docs in) replays ONLY
    // until its generation is committed: a warm lifecycle pays exactly
    // one probe per ingest — the per-ingest contract — not a re-probe
    // of history (the committed marker already guarantees the fold
    // itself is idempotent; this skips the wasted probe too)
    if (!GenerationStore.generationCommitted(dir, genKey)) {
      // sign batch1 ONCE; the probe and the fold both read the cached
      // signed frame — the split ops would shingle+sign the admitted
      // docs a second time (profiled as the dominant per-ingest term)
      val batch1 = docs.filter(col("doc_id") % m === 1)
      val signed1 = signedBatch(batch1, dir, threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val rejected1 = probePairsSigned(signed1, dir, threshold)
          .select(col("a")).distinct()
        // ids-only broadcast (bounded by the batch), so the anti join
        // never shuffles the signed frame's hset payload
        val admitted1 = signed1
          .join(broadcast(rejected1), signed1("doc_id") === rejected1("a"),
            "left_anti")
        appendGenerationSigned(admitted1, dir, genKey, threshold)
      } finally signed1.unpersist(false)
    }
    // maintenance slot (r14 verdict item 3): the batch loop gets the
    // measured K*=9 cadence by default, exactly as the streaming body
    // does — below the cadence this is a no-op, so the driver-gated
    // single-ingest outputs are unchanged; compaction is
    // probe-invisible by contract either way
    maybeCompact(spark, dir)
    if (compact) compactIndex(spark, dir)
    val batch2 = docs.filter(col("doc_id") % m === 2)
    probePairs(batch2, dir, threshold)
      .withColumn("rnk", expr(
        "row_number() OVER (PARTITION BY a ORDER BY jac DESC, b ASC)"))
      .filter(col("rnk") === 1)
      .select(col("a").as("batch_doc"), col("b").as("base_doc"),
        round(col("jac"), 4).as("jaccard"))
      .orderBy(col("batch_doc"))
  }

  /** Fold every committed delta generation's STORED rows into the base
    * band/hset tables and demote the generations to empty committed
    * markers — IO-only maintenance. No re-shingling, no re-signing:
    * the stored signatures are reused verbatim, so every probe answer
    * is bitwise unchanged (the q138 oracle pins exactly that). What it
    * buys at scale: [[GenerationStore.indexRoots]] unions one scan
    * branch per live generation into every probe, so N ingests = N
    * small parquet roots per probe (the axis ADMISSION_SWEEP_GENS
    * measures); compaction returns the index to single-root shape at
    * pure IO cost — the cheap maintenance half a deployment runs every
    * K ingests. The HOT SET stays frozen: refreshing df statistics
    * would invalidate every stored signature (df-at-build-time, module
    * doc), so a hot-set refresh is BY DEFINITION the snapshot-cadence
    * rebuild, not compaction. Crash protocol and demotion:
    * [[GenerationStore.compactRoots]]. Callers quiesce probes first
    * (driver queries are sequential; a deployment compacts on the
    * snapshot scheduler that owns the index, same as rebuilds).
    * Idempotent: no live generations → no-op. */
  def compactIndex(spark: SparkSession, dir: String): Unit =
    compact(spark, dir, Seq("hsets" -> "doc_bucket", "bands" -> "band_bucket"))

  /** [[GenerationStore.compactRoots]] over this tier's `subTables`
    * ((name, partition column) each): each merged sub-table is the union
    * of every live root's, post-processed by `merge` (identity for the
    * text/emb tiers; the fp tier re-collapses to min(bid) per fp). */
  private def compact(spark: SparkSession, dir: String,
      subTables: Seq[(String, String)],
      merge: DataFrame => DataFrame = identity): Unit =
    GenerationStore.compactRoots(dir, subTables) { (sub, roots) =>
      merge(roots.map(rt => readSub(spark, rt, sub)).reduce(_.unionByName(_)))
    }

  // ---- compaction cadence: the measured rule, as code ---------------
  //
  // Every live delta generation adds one scan branch to every probe
  // (the ADMISSION_SWEEP_GENS/EMBGENS axis: probe cost is ~linear in
  // live generations — text 2.10 s at 0 gens → 10.95 s at 31, emb
  // 3.49 s → 24.87 s), and compaction removes them all at a one-time
  // IO cost C (text 10.76 s, emb 28.85 s at the sweep fixtures).
  // Compacting every K ingests costs C/K + slope·(K−1)/2 per probe,
  // minimized at K* = sqrt(2·C/slope). Both measured curves land at
  // K* ≈ 9 (text: slope 0.285 s/gen → 8.7; emb: 0.69 s/gen → 9.1) —
  // [[DefaultCompactAfterGens]] pins that number, and
  // CompactionPolicySpec re-derives it from the committed sweep
  // artifacts so a future re-measure that moves the curves flags the
  // constant instead of silently outdating it.

  /** K* = argmin_K [C/K + slope·(K−1)/2]: the compact-every-K-ingests
    * cadence given a measured one-time compaction cost and a measured
    * per-generation probe overhead (both in the same unit). */
  def compactionCadence(compactCost: Double, perGenProbeCost: Double): Int = {
    require(compactCost > 0 && perGenProbeCost > 0,
      s"cadence needs positive measured costs, got " +
        s"compact=$compactCost perGen=$perGenProbeCost")
    math.max(1, math.round(
      math.sqrt(2.0 * compactCost / perGenProbeCost)).toInt)
  }

  /** The deployed default cadence — K* of both committed sweep curves. */
  val DefaultCompactAfterGens = 9

  /** Live (non-demoted) delta generations of any index dir. */
  def liveGenerations(dir: String): Int =
    GenerationStore.indexRoots(dir).size - 1

  /** Compact `dir` iff its live generation count has reached
    * `maxGens` — the cadence rule as an executable maintenance hook
    * (the streaming lifecycle calls it per micro-batch). The tier is
    * read from the index's own marker (fp / emb / text layouts record
    * distinct keys), so one advisor serves all three index kinds.
    * Compaction is probe-invisible by contract, so callers never need
    * to sequence this against reads. Returns true iff it compacted. */
  def maybeCompact(spark: SparkSession, dir: String,
                   maxGens: Int = DefaultCompactAfterGens): Boolean =
    // both store locks, family lock first (the dispatched compaction
    // re-acquires them reentrantly), so a concurrent same-dir ensure
    // and this maintenance slot serialize
    GenerationStore.withLocks(dir) {
      if (liveGenerations(dir) < math.max(1, maxGens)) false
      else {
        // A missing root marker means another process holds the
        // compaction window (or the root is mid-publish) — skip this
        // maintenance slot rather than failing the micro-batch; the
        // next slot retries once the window closes.
        val marker =
          try GenerationStore.readMarker(dir)
          catch { case _: java.nio.file.NoSuchFileException => Map.empty[String, String] }
        if (marker.isEmpty) false
        else {
          // emb roots record `"kind":"emb"`, fp roots `"fpBuckets"`,
          // text roots neither
          if (marker.get("kind").contains("emb")) embCompactIndex(spark, dir)
          else if (marker.contains("fpBuckets")) fpCompactIndex(spark, dir)
          else compactIndex(spark, dir)
          true
        }
      }
    }

  val admissionLifecycleOracle: String =
    admissionLifecycleOracleAt(Dedup.DefaultThreshold)

  def admissionLifecycleOracleAt(threshold: Double,
      maxDfFrac: Double = Dedup.DefaultMaxDfFrac): String =
    modLifecycleOracle(threshold, maxDfFrac, 3)

  val admissionCompactionOracle: String =
    modLifecycleOracle(Dedup.DefaultThreshold, Dedup.DefaultMaxDfFrac, 4)

  /** The all-pairs CTEs with hot-set statistics scoped to the mod-`m`
    * base, then: rejected-batch1 = batch1 docs (% m == 1) pairing the
    * base (% m == 0); admitted = batch1 minus those; batch2's
    * (% m == 2) reject list ranks pairs whose other side is base ∪
    * admitted. Residues ≥ 3 never enter `idx`, so the EXISTS filter
    * keeps them out of `p2` for any m. */
  private def modLifecycleOracle(threshold: Double, maxDfFrac: Double,
                                 m: Int): String =
    s"""WITH ${Dedup.oracleMinhashPairsCtes(threshold, maxDfFrac, s"doc_id % $m = 0")},
      |rej1 AS (
      |  SELECT DISTINCT CASE WHEN a % $m = 1 THEN a ELSE b END AS d
      |  FROM mp WHERE (a % $m = 1 AND b % $m = 0) OR (a % $m = 0 AND b % $m = 1)),
      |idx AS (
      |  SELECT doc_id FROM documents WHERE doc_id % $m = 0
      |  UNION ALL
      |  SELECT doc_id FROM documents WHERE doc_id % $m = 1
      |    AND NOT EXISTS (SELECT 1 FROM rej1 WHERE rej1.d = doc_id)),
      |p2 AS (
      |  SELECT CASE WHEN a % $m = 2 THEN a ELSE b END AS batch_doc,
      |         CASE WHEN a % $m = 2 THEN b ELSE a END AS base_doc, jac
      |  FROM mp WHERE ((a % $m = 2) <> (b % $m = 2))
      |    AND EXISTS (SELECT 1 FROM idx
      |                WHERE idx.doc_id = CASE WHEN a % $m = 2 THEN b ELSE a END)),
      |best AS (
      |  SELECT batch_doc, base_doc, jac,
      |         row_number() OVER (PARTITION BY batch_doc
      |                            ORDER BY jac DESC, base_doc ASC) AS rnk
      |  FROM p2)
      |SELECT batch_doc, base_doc, ROUND(jac, 4) AS jaccard
      |FROM best WHERE rnk = 1 ORDER BY batch_doc""".stripMargin

  // ====================================================================
  // Embedding-side persisted admission index (IVF) — q131's scale path
  // made durable. q131 is EXACT: it scans the full base per ingest
  // (broadcast batch, zero base shuffle) — correct, but O(base) IO per
  // ingest forever. This index persists the base ONCE as an IVF layout
  // (the deterministic cheapest-md5 centroids of q54, each base vector
  // assigned to its nearest cell by exact integer distance, cells as
  // partition directories) and the probe reads only the nProbe nearest
  // cells per batch vector — expected nProbe/C of the base per ingest.
  // The trade is the standard IVF one: the reject list is bounded to
  // candidates inside probed cells (recall governed by nProbe/C, the
  // same measured surface as q119); the ORACLE reproduces the identical
  // cell assignment and probe, so correctness is exact w.r.t. the
  // declared approximation. Centroids derive from the BASE at build
  // time (same df-at-build-time reasoning as the text index: cell
  // assignment is only valid under the centroids it was built with).
  // ====================================================================

  val EmbCentroids = 16
  val EmbNProbe = 4
  val EmbThreshold = 0.45

  def embIndexDirFor(embPath: String, centroids: Int,
                     baseMod: Int = 2, famTag: String = ""): String =
    GenerationStore.dirFor(embPath, embKey(centroids, baseMod) + famSuffix(famTag))

  private def embKey(centroids: Int, baseMod: Int): String =
    s"emb|$centroids" + (if (baseMod == 2) "" else s"|m$baseMod")

  /** Build-if-absent for the embedding index; same lifecycle contract
    * as [[ensureIndex]] (incl. the `baseMod` split-convention key —
    * q141's lifecycle uses 3, q142's compaction lifecycle 4 — and the
    * `famTag` owning-lifecycle key). */
  def ensureEmbIndex(spark: SparkSession, sfDir: String,
                     centroids: Int = EmbCentroids,
                     baseMod: Int = 2, famTag: String = ""): String = {
    val embPath = s"$sfDir/embeddings.parquet"
    GenerationStore.ensure(embIndexDirFor(embPath, centroids, baseMod, famTag),
      GenerationStore.pristineDirFor(embPath, embKey(centroids, baseMod))) {
      embRoot(graft.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") % baseMod === 0), _, centroids)
    }
  }

  /** Build an embedding root at `dir` ([[GenerationStore.build]]). */
  def embBuildIndex(base: DataFrame, dir: String,
                    centroids: Int = EmbCentroids): Unit =
    GenerationStore.build(dir)(embRoot(base, _, centroids))

  /** (vec_id, qv, n2, cell) under the broadcast centroid summary. */
  private def assignCells(q: DataFrame,
      cents: org.apache.spark.broadcast.Broadcast[Array[(Array[Long], Long)]]): DataFrame =
    q.select(col("vec_id"), col("qv"), col("n2"),
      Similarity.ivfCellUdf(cents)(col("qv")).as("cell"))

  /** One pass over the base vectors → centroid summary + cell-assigned
    * quantized vectors in `out`, partitioned by cell for probe-time
    * pruning; returns the root marker's fields. */
  private def embRoot(base: DataFrame, out: String,
                      centroids: Int): Seq[(String, Any)] = {
    val spark = base.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val q = Similarity.quantized(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = Similarity.ivfCentroids(q, centroids)
      GenerationStore.writePartitioned(
        assignCells(q, spark.sparkContext.broadcast(cents)), "cell", s"$out/cells")
      cents.zipWithIndex
        .map { case ((cqv, cn2), i) => (i, cqv.toSeq, cn2) }.toSeq
        .toDF("idx", "qv", "n2").coalesce(1)
        .write.mode("overwrite").parquet(s"$out/centroids")
      Seq("kind" -> "emb", "centroids" -> centroids)
    } finally q.unpersist(false)
  }

  /** Per-ingest probe: each batch vector's nProbe nearest cells are
    * computed against the persisted centroid summary (KB-scale collect),
    * the cell scan is partition-pruned to the probed set, and the best
    * base match at cos ≥ threshold per batch vector is the reject row.
    * Candidates bounded to probed cells — the declared IVF
    * approximation, reproduced exactly by the oracle. */
  def embProbe(batch: DataFrame, dir: String,
               threshold: Double = EmbThreshold,
               nProbe: Int = EmbNProbe): DataFrame =
    embScored(batch, dir, threshold, nProbe)
      .withColumn("rnk", expr(
        "row_number() OVER (PARTITION BY batch_vec ORDER BY cos DESC, base_vec ASC)"))
      .filter(col("rnk") === 1)
      .select(col("batch_vec"), col("base_vec"),
        round(col("cos"), 6).as("cosine"))
      .orderBy(col("batch_vec"))

  /** Shared pruned scorer behind [[embProbe]] (q135) and
    * [[embPairsVsIndexPruned]] (q136's production micro-batch form):
    * verified (batch_vec, base_vec, cos ≥ threshold) over the
    * partition-pruned probed cells, cos UNROUNDED — the q135 rank must
    * order by the exact cosine (ranking rounded values could pick a
    * different tie-winner than the oracle). The threshold filter sits
    * BEFORE the checkpoint so only verified pairs materialize, never
    * the raw cell-join candidate volume. Output is
    * localCheckpoint(eager)ed: materialized once here, blocks
    * reclaimed by the ContextCleaner when the frame goes unreachable
    * (the r10 persist leaked per ingest, ADVICE). */
  private def embScored(batch: DataFrame, dir: String,
                        threshold: Double, nProbe: Int): DataFrame = {
    val (plan, release) = embScoredPlan(batch, dir, threshold, nProbe)
    try plan.localCheckpoint(true) finally release()
  }

  /** [[embScored]] before its checkpoint, plus the release hook of its
    * probe-cell cache — the front door consumes the plan directly
    * (one collect) instead of checkpointing and reading it again. */
  private def embScoredPlan(batch: DataFrame, dir: String,
      threshold: Double, nProbe: Int): (DataFrame, () => Unit) = {
    val spark = batch.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val cents = centroidSets(spark, dir)
    val bc = spark.sparkContext.broadcast(cents)
    val probes = Similarity.quantized(batch)
      .select(col("vec_id"), col("qv"), col("n2"),
        explode(Similarity.ivfProbeUdf(bc, nProbe)(col("qv"))).as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val release = () => { probes.unpersist(false); () }
    try {
      val touched = bucketManifest(probes, col("cell"))
      // union of base + committed delta generations, partition-pruned
      // to the probed cells — same multi-root shape as the text probe
      val baseCells =
        prunedUnion(spark, GenerationStore.indexRoots(dir), "cells", "cell", touched)
      (probes.as("x").join(baseCells.as("y"), Seq("cell"))
        .select(col("x.vec_id").as("batch_vec"), col("y.vec_id").as("base_vec"),
          expr(Similarity.cosExpr).as("cos"))
        .filter(col("cos") >= threshold), release)
    } catch { case scala.util.control.NonFatal(e) => release(); throw e }
  }

  /** Fully STATELESS embedding probe — the IVF twin of [[pairsVsIndex]]
    * (q134), closing the admission matrix: exact/minhash/embedding ×
    * batch/stream. Departures from [[embProbe]], both forced by
    * statelessness: no cell-prune collect (the probed-cell set is not
    * known at plan time on a stream — the cells table joins
    * stream-static instead, still one partition-pruned scan per
    * micro-batch once Spark pushes the join's cell values; worst case a
    * full narrow scan of the cell layout), and no best-match rank (an
    * aggregation = state; the gate needs the pair set). Each
    * (batch, base) pair emits at most once row-locally: a base vector
    * lives in exactly one cell, and the nProbe probe cells per batch
    * vector are distinct by construction. */
  def embPairsVsIndex(batchVecs: DataFrame, dir: String,
                      threshold: Double = EmbThreshold,
                      nProbe: Int = EmbNProbe): DataFrame = {
    val spark = batchVecs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val cents = centroidSets(spark, dir)
    val bc = spark.sparkContext.broadcast(cents)
    val probes = Similarity.quantized(batchVecs)
      .select(col("vec_id"), col("qv"), col("n2"),
        explode(Similarity.ivfProbeUdf(bc, nProbe)(col("qv"))).as("cell"))
    val baseCells = GenerationStore.indexRoots(dir)
      .map(rt => readSub(spark, rt, "cells"))
      .reduce(_.unionByName(_))
    probes.as("x").join(baseCells.as("y"), Seq("cell"))
      .select(col("x.vec_id").as("batch_vec"), col("y.vec_id").as("base_vec"),
        expr(Similarity.cosExpr).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("batch_vec"), col("base_vec"),
        round(col("cos"), 6).as("cosine"))
  }

  /** [[embPairsVsIndex]] with the cell-prune collect put back — the
    * per-micro-batch PRODUCTION form (IVF twin of
    * [[pairsVsIndexPruned]]): inside a `foreachBatch` the micro-batch
    * is static, so the bounded touched-cell collect applies and the
    * per-micro-batch cells IO is the probed partitions, not the whole
    * layout. Output ≡ embPairsVsIndex row-for-row (a base vector lives
    * in exactly one cell; pruning removes only cells no batch vector
    * probes). */
  def embPairsVsIndexPruned(batchVecs: DataFrame, dir: String,
                            threshold: Double = EmbThreshold,
                            nProbe: Int = EmbNProbe): DataFrame =
    embScored(batchVecs, dir, threshold, nProbe)
      .select(col("batch_vec"), col("base_vec"),
        round(col("cos"), 6).as("cosine"))

  /** The production streaming embedding gate — `foreachBatch` around
    * [[embPairsVsIndexPruned]]; same contract as
    * [[startNearDupStream]]. */
  def startEmbAdmissionStream(streamVecs: DataFrame, dir: String,
      threshold: Double = EmbThreshold, nProbe: Int = EmbNProbe)
      (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    streamVecs.writeStream
      .foreachBatch((mb: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                     id: Long) =>
        sink(embPairsVsIndexPruned(mb.toDF(), dir, threshold, nProbe), id))
      .start()

  /** q136 driver form: the stateless embedding probe's BATCH twin over
    * the modulo-split convention, sorted for the oracle compare —
    * since r11 the PRUNED form, i.e. exactly one
    * [[startEmbAdmissionStream]] micro-batch. The un-pruned
    * single-plan form [[embPairsVsIndex]] remains the spec-replayed
    * stream-static shape (pruned ≡ un-pruned ≡ stream ≡ oracle). */
  def streamEmbAdmission(spark: SparkSession, sfDir: String,
                         threshold: Double = EmbThreshold,
                         centroids: Int = EmbCentroids,
                         nProbe: Int = EmbNProbe): DataFrame = {
    val dir = ensureEmbIndex(spark, sfDir, centroids)
    val batch = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 2 === 1)
    embPairsVsIndexPruned(batch, dir, threshold, nProbe)
      .orderBy(col("batch_vec"), col("base_vec"))
  }

  val streamEmbAdmissionOracle: String =
    streamEmbAdmissionOracleAt(EmbThreshold, EmbCentroids, EmbNProbe)

  /** [[embAdmissionIndexedOracleAt]] without the best-match rank — the
    * stateless form's full verified pair set. */
  def streamEmbAdmissionOracleAt(threshold: Double, centroids: Int,
                                 nProbe: Int): String =
    s"""WITH ${embOracleCtes(centroids, nProbe)}
      |SELECT batch_vec, base_vec, ROUND(cos, 6) AS cosine
      |FROM scored WHERE cos >= $threshold
      |ORDER BY batch_vec, base_vec""".stripMargin

  /** q135 driver form: ensure the base IVF index for `sfDir`, probe the
    * incoming batch (odd vec_ids, q65 modulo-split convention). */
  def embAdmissionIndexed(spark: SparkSession, sfDir: String,
                          threshold: Double = EmbThreshold,
                          centroids: Int = EmbCentroids,
                          nProbe: Int = EmbNProbe): DataFrame = {
    val dir = ensureEmbIndex(spark, sfDir, centroids)
    val batch = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 2 === 1)
    embProbe(batch, dir, threshold, nProbe)
  }

  val embAdmissionIndexedOracle: String =
    embAdmissionIndexedOracleAt(EmbThreshold, EmbCentroids, EmbNProbe)

  /** Shared CTE chain for the embedding-index oracles (through the
    * verified `scored(batch_vec, base_vec, cos)` table): base-scoped
    * centroid selection, exact integer cell assignment (the q54
    * bigint-encoded argmin — no cross-engine struct ordering), nProbe
    * probe cells per batch vector, candidates = probed-cell joins. */
  // ---- emb delta generations: admitted vectors folded into the IVF ----

  /** Fold ADMITTED vectors into the embedding index as a committed
    * delta generation — the IVF twin of [[appendGeneration]], closing
    * the fold gap: without it a semantic dup of an admitted-but-
    * unindexed vector passes the gate forever. Cell assignment uses the
    * index's FROZEN centroid summary (centroids-at-build-time — stored
    * cell ids are only valid under the centroids they were assigned
    * with; a centroid refresh is BY DEFINITION the snapshot-cadence
    * rebuild), so probes need no per-generation centroid logic: every
    * root's cells table speaks the same cell vocabulary. Idempotent per
    * genKey, like the text fold. */
  def embAppendGeneration(admitted: DataFrame, dir: String,
                          genKey: String): Unit =
    GenerationStore.appendGeneration(dir, genKey) { tmp =>
      val spark = admitted.sparkSession
      graft.functions.GraftFunctions.register(spark)
      val assigned = assignCells(Similarity.quantized(admitted),
          spark.sparkContext.broadcast(centroidSets(spark, dir)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val rows = assigned.count()
        if (rows > 0) GenerationStore.writePartitioned(assigned, "cell", s"$tmp/cells")
        rows
      } finally assigned.unpersist(false)
    }

  /** IO-only compaction for the embedding index — [[compactIndex]]'s
    * IVF twin: committed generations' STORED cell rows merge into the
    * base cells table (no re-quantization, no re-assignment — the
    * frozen-centroid contract makes stored rows reusable verbatim),
    * generations demote to empty committed markers, probe answers are
    * bitwise unchanged, re-compaction is a no-op. */
  def embCompactIndex(spark: SparkSession, dir: String): Unit =
    compact(spark, dir, Seq("cells" -> "cell"))

  /** q141 driver form — the embedding tier's FULL ingest lifecycle
    * (q137's IVF twin) on a mod-3 split: build (base = vec_id % 3 == 0)
    * → probe batch1 (% 3 == 1) → fold batch1's ADMITTED vectors in as a
    * delta generation → probe batch2 (% 3 == 2). Output = batch2's
    * reject list whose base side spans base ∪ admitted-batch1 — the
    * gate property on the semantic tier: a vector round 1 admitted,
    * round 2 cannot duplicate. All cell assignment under the base's
    * frozen centroids; the oracle re-derives admitted-batch1 from the
    * identical probed-cell scoring. */
  def embAdmissionLifecycle(spark: SparkSession, sfDir: String,
                            threshold: Double = EmbThreshold,
                            centroids: Int = EmbCentroids,
                            nProbe: Int = EmbNProbe): DataFrame =
    embLifecycleCore(spark, sfDir, threshold, centroids, nProbe,
      m = 3, genTag = "embGen1", compact = false)

  /** q142 driver form — the emb lifecycle with the COMPACTION
    * maintenance step in the loop (q138's IVF twin), on its own mod-4
    * index; the oracle models NO compaction — invisibility is the pin,
    * and a warm re-run is fully idempotent (committed generation skips
    * the fold; a compacted index has no live deltas). */
  def embAdmissionCompaction(spark: SparkSession, sfDir: String,
                             threshold: Double = EmbThreshold,
                             centroids: Int = EmbCentroids,
                             nProbe: Int = EmbNProbe): DataFrame =
    embLifecycleCore(spark, sfDir, threshold, centroids, nProbe,
      m = 4, genTag = "embGenC1", compact = true)

  private def embLifecycleCore(spark: SparkSession, sfDir: String,
                               threshold: Double, centroids: Int,
                               nProbe: Int, m: Int, genTag: String,
                               compact: Boolean): DataFrame = {
    val vecs = graft.Tables.embeddings(spark, sfDir)
    val dir = ensureEmbIndex(spark, sfDir, centroids, baseMod = m)
    val genKey = s"$sfDir|$genTag"
    if (!GenerationStore.generationCommitted(dir, genKey)) {
      val batch1 = vecs.filter(col("vec_id") % m === 1)
      val rejected1 = embProbe(batch1, dir, threshold, nProbe)
        .select(col("batch_vec")).distinct()
      val admitted1 = batch1.join(broadcast(rejected1),
        batch1("vec_id") === rejected1("batch_vec"), "left_anti")
      embAppendGeneration(admitted1, dir, genKey)
    }
    // default K*=9 maintenance cadence, as in the streaming body —
    // no-op below the cadence, probe-invisible above it
    maybeCompact(spark, dir)
    if (compact) embCompactIndex(spark, dir)
    embProbe(vecs.filter(col("vec_id") % m === 2), dir, threshold, nProbe)
  }

  // the bigint-encoded argmin packs (dist + 2^38)*256 + i: the %256
  // aliases cell ids past 256 centroids, and the 2^38 offset only
  // dominates |n2 - 2·dot| for quantized dims ≲ 1300 (|qv| ≤ 1e4 →
  // |2·dot| ≤ 2·dims·1e8 < 2^38). Both are caller-supplied on the
  // public oracle builders — fail loud instead of silently corrupting
  // the encoded ordering (r10 ADVICE).
  private def embOracleGuards(centroids: Int, nProbe: Int): Unit = {
    require(centroids >= 1 && centroids <= 256,
      s"embedding oracle argmin encoding supports at most 256 centroids, got $centroids")
    require(nProbe >= 1 && nProbe <= centroids,
      s"nProbe must be in 1..centroids, got $nProbe")
    ()
  }

  /** The packed-argmin score list over the `carr` centroid array for
    * the row alias `q` — shared by every emb oracle builder. A `def`,
    * NOT a val: the oracle VALs above it initialize during object
    * construction in declaration order and would read a null val. */
  private def embScoresExpr: String = {
    val OFF = 274877906944L
    val dotCQ =
      """CAST(list_sum(list_transform(range(1, len(q.qv)+1), d -> q.qv[d] * cents[i].qv[d])) AS BIGINT)"""
    s"""list_transform(range(1, len(cents)+1), i ->
       |        (cents[i].n2 - 2 * $dotCQ + $OFF) * 256 + (i - 1))""".stripMargin
  }

  private def embOracleCtes(centroids: Int, nProbe: Int): String = {
    embOracleGuards(centroids, nProbe)
    val scores = embScoresExpr
    s"""${Similarity.oracleQuantized},
      |ranked_cents AS (
      |  SELECT qv, n2,
      |         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
      |         vec_id
      |  FROM qn WHERE vec_id % 2 = 0 ORDER BY h, vec_id LIMIT $centroids),
      |carr AS (
      |  SELECT list(struct_pack(qv := qv, n2 := n2) ORDER BY h, vec_id) AS cents
      |  FROM ranked_cents),
      |assigned AS (
      |  SELECT q.vec_id, q.qv, q.n2, list_min($scores) % 256 AS cell
      |  FROM qn q, carr WHERE q.vec_id % 2 = 0),
      |probes AS (
      |  SELECT q.vec_id, q.qv, q.n2, t.pcell
      |  FROM qn q, carr,
      |       unnest(list_transform(list_sort($scores)[1:$nProbe], x -> x % 256)) AS t(pcell)
      |  WHERE q.vec_id % 2 = 1),
      |scored AS (
      |  SELECT x.vec_id AS batch_vec, y.vec_id AS base_vec,
      |         ${Similarity.oracleCosExpr} AS cos
      |  FROM probes x JOIN assigned y ON x.pcell = y.cell)""".stripMargin
  }

  /** Oracle builder on the SAME (threshold, centroids, nProbe) as the
    * engine: the shared CTE chain plus the best-match rank. */
  def embAdmissionIndexedOracleAt(threshold: Double, centroids: Int,
                                  nProbe: Int): String =
    s"""WITH ${embOracleCtes(centroids, nProbe)},
      |ranked AS (
      |  SELECT batch_vec, base_vec, cos,
      |         row_number() OVER (PARTITION BY batch_vec
      |                            ORDER BY cos DESC, base_vec ASC) AS rnk
      |  FROM scored WHERE cos >= $threshold)
      |SELECT batch_vec, base_vec, ROUND(cos, 6) AS cosine
      |FROM ranked WHERE rnk = 1 ORDER BY batch_vec""".stripMargin

  val embAdmissionLifecycleOracle: String =
    embLifecycleOracleAt(EmbThreshold, EmbCentroids, EmbNProbe, 3)

  val embAdmissionCompactionOracle: String =
    embLifecycleOracleAt(EmbThreshold, EmbCentroids, EmbNProbe, 4)

  /** The emb lifecycle's CTE chain at split modulo `m`: centroids and
    * cell assignment from the mod-`m` BASE only (frozen-centroid
    * semantics), rejected-batch1 from the identical probed-cell
    * scoring, admitted = batch1 minus rejects assigned under the SAME
    * centroids, batch2 ranked against base ∪ admitted. Residues ≥ 3
    * never enter `assigned2`. Compaction (m = 4) is invisible by
    * construction — the oracle models none. */
  def embLifecycleOracleAt(threshold: Double, centroids: Int,
                           nProbe: Int, m: Int): String = {
    embOracleGuards(centroids, nProbe)
    val scores = embScoresExpr
    s"""WITH ${Similarity.oracleQuantized},
      |ranked_cents AS (
      |  SELECT qv, n2,
      |         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
      |         vec_id
      |  FROM qn WHERE vec_id % $m = 0 ORDER BY h, vec_id LIMIT $centroids),
      |carr AS (
      |  SELECT list(struct_pack(qv := qv, n2 := n2) ORDER BY h, vec_id) AS cents
      |  FROM ranked_cents),
      |assigned_base AS (
      |  SELECT q.vec_id, q.qv, q.n2, list_min($scores) % 256 AS cell
      |  FROM qn q, carr WHERE q.vec_id % $m = 0),
      |probes1 AS (
      |  SELECT q.vec_id, q.qv, q.n2, t.pcell
      |  FROM qn q, carr,
      |       unnest(list_transform(list_sort($scores)[1:$nProbe], x -> x % 256)) AS t(pcell)
      |  WHERE q.vec_id % $m = 1),
      |scored1 AS (
      |  SELECT x.vec_id AS bv, ${Similarity.oracleCosExpr} AS cos
      |  FROM probes1 x JOIN assigned_base y ON x.pcell = y.cell),
      |rej1 AS (SELECT DISTINCT bv FROM scored1 WHERE cos >= $threshold),
      |assigned_adm AS (
      |  SELECT q.vec_id, q.qv, q.n2, list_min($scores) % 256 AS cell
      |  FROM qn q, carr WHERE q.vec_id % $m = 1
      |    AND NOT EXISTS (SELECT 1 FROM rej1 WHERE rej1.bv = q.vec_id)),
      |assigned2 AS (
      |  SELECT * FROM assigned_base UNION ALL SELECT * FROM assigned_adm),
      |probes2 AS (
      |  SELECT q.vec_id, q.qv, q.n2, t.pcell
      |  FROM qn q, carr,
      |       unnest(list_transform(list_sort($scores)[1:$nProbe], x -> x % 256)) AS t(pcell)
      |  WHERE q.vec_id % $m = 2),
      |scored2 AS (
      |  SELECT x.vec_id AS batch_vec, y.vec_id AS base_vec,
      |         ${Similarity.oracleCosExpr} AS cos
      |  FROM probes2 x JOIN assigned2 y ON x.pcell = y.cell),
      |ranked AS (
      |  SELECT batch_vec, base_vec, cos,
      |         row_number() OVER (PARTITION BY batch_vec
      |                            ORDER BY cos DESC, base_vec ASC) AS rnk
      |  FROM scored2 WHERE cos >= $threshold)
      |SELECT batch_vec, base_vec, ROUND(cos, 6) AS cosine
      |FROM ranked WHERE rnk = 1 ORDER BY batch_vec""".stripMargin
  }

  // ====================================================================
  // q139 — the composed production front door: one incoming batch
  // through all three admission tiers in precedence order, each tier
  // only probing what the previous tiers passed. This is the gate a
  // real 100 TB ingest runs (reference analog: the plants task's single
  // precomputed-lookup pipeline, plants_classifier.py:183–231 — one
  // request, one chain of lookups, one verdict).
  // ====================================================================

  /** Whitespace-normalized md5 fingerprint — the exact-tier key, shared
    * semantics with [[graft.streaming.DocStream]] (q132) and
    * [[Dedup.exactDedup]]. */
  private def fpCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(trim(regexp_replace(lower(c), "\\s+", " ")))

  // ---- persisted exact-fingerprint index (the tier-1 durable form) ----
  //
  // q132's stream-static gate and the pre-r11 front door both derived
  // the base fingerprint table from the corpus PER CALL — an O(base)
  // scan+md5 every ingest, the exact-tier analog of the re-signing
  // shape q133 retired for minhash. This index persists (fp, bid =
  // lowest base doc id per fp) ONCE per base snapshot, hash-bucket-
  // partitioned on the fp so a probe metadata-prunes to the buckets the
  // batch's own fingerprints hash into: per-ingest IO is
  // O(batch + touched buckets), never O(base). ~24 bytes/doc stored —
  // the cheapest of the three indexes by far. Rebuild cadence = the
  // base snapshot (same staleness key as the text index). Since r12 the
  // tier has the same delta-generation lifecycle as its siblings
  // ([[fpAppendGeneration]] / [[fpCompactIndex]]): the composed
  // front-door lifecycle (q143) folds admitted docs' fingerprints in,
  // so an EXACT resubmission of an admitted doc is caught by tier 1
  // directly — including sub-3-token docs the minhash tier cannot
  // sign, the case the "minhash catches it at jaccard 1.0" argument
  // would have missed.

  /** target fp rows per bucket (16-byte fp + 8-byte id rows) */
  val FpsPerBucket = 65536L

  /** `baseMod` and `famTag` enter the key exactly as in
    * [[textIndexDirFor]]: different split conventions / owning
    * lifecycles are different fp indexes. */
  def fpIndexDirFor(docsPath: String, baseMod: Int = 2,
                    famTag: String = ""): String =
    GenerationStore.dirFor(docsPath, s"fp|mod$baseMod" + famSuffix(famTag))

  /** Build-if-absent for the fingerprint index; same contract as
    * [[ensureIndex]], including the `baseMod` split-convention parameter
    * (base = doc_id % baseMod == 0 — the composed front-door lifecycle
    * runs at 3/4, q139 at the default 2) and the `famTag` key. */
  def ensureFpIndex(spark: SparkSession, sfDir: String,
                    baseMod: Int = 2, famTag: String = ""): String = {
    val docsPath = s"$sfDir/documents.parquet"
    GenerationStore.ensure(fpIndexDirFor(docsPath, baseMod, famTag),
      GenerationStore.pristineDirFor(docsPath, s"fp|mod$baseMod")) {
      fpRoot(graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % baseMod === 0), _)
    }
  }

  /** Build a fingerprint root at `dir` ([[GenerationStore.build]]). */
  def buildFpIndex(base: DataFrame, dir: String): Unit =
    GenerationStore.build(dir)(fpRoot(base, _))

  /** (fp, bid = lowest doc id per fp) of a batch of docs. */
  private def fpRows(docs: DataFrame): DataFrame =
    docs.select(fpCol(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("bid"))

  private def withFpBucket(fps: DataFrame, buckets: Int): DataFrame =
    fps.withColumn("fp_bucket", pmod(hash(col("fp")), lit(buckets)))

  /** One pass over the base → the bucketed (fp, bid) table in `out`;
    * returns the root marker's fields. `bid` is the LOWEST base doc id
    * per fingerprint — the attribution the front door emits, folded at
    * build time so a probe never aggregates. */
  private def fpRoot(base: DataFrame, out: String): Seq[(String, Any)] = {
    val fps = fpRows(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val buckets = pow2AtLeast(
        (fps.count() + FpsPerBucket - 1) / FpsPerBucket)
      GenerationStore.writePartitioned(withFpBucket(fps, buckets),
        "fp_bucket", s"$out/fps")
      Seq("fpBuckets" -> buckets)
    } finally fps.unpersist(false)
  }

  /** A batch's (doc_id, fp, fp_bucket) under `dir`'s fp layout. */
  private[operators] def fingerprinted(batch: DataFrame, dir: String): DataFrame =
    batch.select(col("doc_id"), fpCol(col("text")).as("fp"))
      .withColumn("fp_bucket", pmod(hash(col("fp")), lit(readFpBuckets(dir))))

  /** Every (doc_id, bid) match of a [[fingerprinted]] batch against the
    * fp rows of every live root (base ∪ committed delta generations),
    * partition-pruned to `touched` — the persisted twin of q132's
    * derived-table anti join, reading ≤ min(|batch|, fpBuckets)
    * directories per root. */
  private[operators] def fpMatches(bf: DataFrame, dir: String,
                        touched: Array[Int]): DataFrame =
    bf.join(prunedUnion(bf.sparkSession, GenerationStore.indexRoots(dir),
        "fps", "fp_bucket", touched).select(col("fp"), col("bid")), Seq("fp"))
      .select(col("doc_id"), col("bid"))

  /** The exact-tier probe, answered on the driver: every batch doc id
    * (one per batch row, in scan order) and, for each doc whose
    * fingerprint the index has seen, the lowest matching base id ACROSS
    * roots. Each root stores its own per-fp minimum, so the cross-root
    * min is the global attribution (base fps and delta fps are disjoint
    * under the lifecycle discipline — a fp the base has is rejected,
    * never folded — but the min makes the probe correct for any fold).
    * Two jobs and no shuffle: one collect of the batch's (doc_id,
    * fp_bucket) rows, which is the ids and the fp-bucket manifest at
    * once, and one collect of [[fpMatches]], reduced to min(bid) per
    * doc on the driver ([[bestPerDoc]] with one score for all: ties go
    * to the lowest id). Both collects hold a few longs per batch row. */
  private[operators] def fpProbeOnDriver(batch: DataFrame,
      dir: String): (Array[Long], Map[Long, Long]) = {
    import batch.sparkSession.implicits._
    val bf = fingerprinted(batch, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = bf.select(col("doc_id"), col("fp_bucket")).as[(Long, Int)].collect()
      val matches = fpMatches(bf, dir, rows.map(_._2).distinct.sorted)
      (rows.map(_._1), bestPerDoc(matches.select(col("doc_id"), col("bid"), lit(0.0))))
    } finally { bf.unpersist(false); () }
  }

  private def readFpBuckets(dir: String): Int =
    GenerationStore.readMarker(dir).get("fpBuckets").fold(MinBuckets)(_.toInt)

  /** Fold ADMITTED docs' fingerprints into the fp index as a committed
    * delta generation — the exact tier's fold, closing the last
    * fold-less tier (r11 verdict item 1): without it an exact
    * resubmission of an admitted doc passes tier 1 forever (and the
    * minhash tier cannot catch sub-3-token docs at all). Rows are
    * (fp, bid = lowest admitted doc id per fp WITHIN the generation),
    * bucketed under the ROOT's fpBuckets layout so one pruned scan
    * vocabulary spans all roots. Idempotent per genKey, like
    * [[appendGeneration]]. */
  def fpAppendGeneration(admitted: DataFrame, dir: String,
                         genKey: String): Unit =
    GenerationStore.appendGeneration(dir, genKey) { tmp =>
      val fps = withFpBucket(fpRows(admitted), readFpBuckets(dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val rows = fps.count()
        if (rows > 0) GenerationStore.writePartitioned(fps, "fp_bucket", s"$tmp/fps")
        rows
      } finally fps.unpersist(false)
    }

  /** IO-only compaction for the fp index — [[compactIndex]]'s exact-
    * tier twin: committed generations' stored (fp, bid) rows merge into
    * the base fps table, re-collapsed to min(bid) per fp (the probe
    * already min-aggregates across roots, so the collapse leaves every
    * probe answer bitwise unchanged), generations demote to empty
    * committed markers. */
  def fpCompactIndex(spark: SparkSession, dir: String): Unit =
    compact(spark, dir, Seq("fps" -> "fp_bucket"),
      merge = _.groupBy(col("fp"), col("fp_bucket")).agg(min(col("bid")).as("bid"))
        .select(col("fp"), col("bid"), col("fp_bucket")))

  /** One incoming batch (odd doc_ids) → per-doc, per-tier reject
    * attribution: `(doc_id, tier ∈ exact|near_dup|semantic|admitted,
    * match_id)` where match_id is the rejecting base doc/vector (-1
    * when admitted), sorted by doc_id. Precedence: exact, then
    * near_dup, then semantic (vectors keyed vec_id = doc_id); the three
    * tiers probe the batch concurrently and the precedence is applied
    * when the attribution is assembled ([[frontDoorProbe]]). All three
    * tiers read PERSISTED indexes (the mod-2
    * text index shared with q133/q134, the IVF index shared with
    * q135/q136), so per-ingest cost is O(batch + touched buckets/
    * cells) on every tier — nothing base-sized is recomputed.
    * Attribution ties: exact → lowest matching base id; near_dup →
    * best jaccard, ties to lowest base id; semantic → best cosine,
    * ties to lowest base vector. */
  def frontDoor(spark: SparkSession, sfDir: String,
                threshold: Double = Dedup.DefaultThreshold,
                maxDfFrac: Double = Dedup.DefaultMaxDfFrac,
                embThreshold: Double = EmbThreshold,
                centroids: Int = EmbCentroids,
                nProbe: Int = EmbNProbe): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    frontDoorBatch(incoming, spark, sfDir, threshold, maxDfFrac,
      embThreshold, centroids, nProbe)
  }

  /** The front door over an ARBITRARY incoming batch — the per-micro-
    * batch body of [[startFrontDoorStream]] and the core of the q139
    * driver form. Ensures all three persisted indexes, then chains the
    * tiers; `incoming` must carry (doc_id, text), vectors are looked up
    * by vec_id = doc_id. */
  def frontDoorBatch(incoming: DataFrame, spark: SparkSession,
                     sfDir: String,
                     threshold: Double = Dedup.DefaultThreshold,
                     maxDfFrac: Double = Dedup.DefaultMaxDfFrac,
                     embThreshold: Double = EmbThreshold,
                     centroids: Int = EmbCentroids,
                     nProbe: Int = EmbNProbe,
                     maxDocsPerBatch: Long = DefaultMaxDocsPerBatch): DataFrame = {
    val (dir, edir, fdir) = ensureFrontDoorIndexes(spark, sfDir,
      threshold, maxDfFrac, centroids)
    frontDoorOn(incoming, spark, sfDir, dir, edir, fdir,
      threshold, embThreshold, nProbe, maxDocsPerBatch)
  }

  /** Ensure the front door's three persisted indexes, building any
    * missing ones CONCURRENTLY (guide §2.6): the families are
    * independent (different corpora/parameter keys, per-family build
    * locks, atomic publish), so on a cold store the emb and fp builds
    * overlap the dominant text-index build instead of queueing behind
    * it — the one-time bring-up cost drops toward max(build) from
    * sum(build). Warm stores pay three marker checks, exactly as
    * before. Awaits are bounded ([[DefaultEnsureTimeout]]) — a wedged
    * build fails loud with its family name (A12). */
  private[operators] def ensureFrontDoorIndexes(spark: SparkSession, sfDir: String,
      threshold: Double, maxDfFrac: Double, centroids: Int,
      baseMod: Int = 2, famTag: String = ""): (String, String, String) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val embF = Future(ensureEmbIndex(spark, sfDir, centroids,
        baseMod, famTag))
      val fpF = Future(ensureFpIndex(spark, sfDir, baseMod, famTag))
      val dir = ensureIndex(spark, sfDir, threshold, maxDfFrac,
        baseMod, buckets = None, famTag = famTag)
      def awaited(f: Future[String], which: String): String =
        try Await.result(f, DefaultEnsureTimeout)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            throw new IllegalStateException(
              s"front-door $which index build exceeded " +
                s"$DefaultEnsureTimeout — failing loud (A12) instead " +
                "of blocking the ingest on a wedged build")
        }
      (dir, awaited(embF, "embedding"), awaited(fpF, "fingerprint"))
    } finally { pool.shutdownNow(); () }
  }

  /** The three-tier chain against EXPLICIT index dirs — the shared core
    * of [[frontDoorBatch]] (mod-2 indexes), the composed lifecycle's
    * probes (mod-3/mod-4 indexes whose delta generations carry what
    * earlier batches admitted), and the fdlife sweep harness. Vectors
    * are looked up by vec_id = doc_id from `sfDir`'s embeddings table.
    * An incoming frame past `maxDocsPerBatch` signed docs re-chunks
    * its tier-2 verify to the measured operating point (see
    * [[frontDoorProbe]]) — output identical by per-doc independence.
    * Every index-reading leg has run when this returns: the
    * attribution is a driver-built frame, already sorted by doc_id. */
  private[graft] def frontDoorOn(incoming: DataFrame, spark: SparkSession,
                                 sfDir: String, dir: String, edir: String,
                                 fdir: String, threshold: Double,
                                 embThreshold: Double, nProbe: Int,
                                 maxDocsPerBatch: Long = DefaultMaxDocsPerBatch,
                                 probeParallelism: Int = DefaultProbeParallelism): DataFrame = {
    val (att, _, release) = frontDoorProbe(incoming, spark, sfDir,
      dir, edir, fdir, threshold, embThreshold, nProbe,
      maxDocsPerBatch, probeParallelism)
    release()
    att
  }

  /** [[frontDoorOn]] exposing the tier-2 SIGNED frame (persisted;
    * caller runs `release()` when done) — the lifecycle's fold reuses it
    * so the admitted docs are never re-shingled/re-signed.
    *
    * Driver-held tier results. Each tier ends in one collect of a
    * batch-bounded answer: tier 1 brings back every batch doc id and
    * each exact match ([[fpProbeOnDriver]]), tiers 2 and 3 each doc's
    * best match, chosen on the driver with the oracles' tie-breaks
    * ([[bestPerDoc]]: near_dup `jac DESC, b ASC`, semantic `cos DESC,
    * base_vec ASC`, both on the unrounded score). The attribution is
    * then built on the driver as one local frame (LocalRelation) of
    * (doc_id, tier, match_id), one row per batch row, sorted by doc_id.
    * Size bound: the driver holds O(batch rows), not O(chunk) — every
    * batch doc id with its fp bucket, one entry per matched doc and
    * tier (plus at most one (doc, match, score) row per doc and verify
    * partition while a ranked tier is reduced) and the attribution's
    * rows, a few hundred bytes per batch row in all; the attribution
    * then ships inside the delivering tasks as local rows. Chunking
    * bounds tier 2's verify-join width, not these. Measured against the
    * tiers' previous shape up to a 75k-doc batch (the 30× fixture,
    * ADMISSION_SWEEP_FDCHUNK_r17.json: same attribution, no separable
    * change in time or peak RSS); batches of 250k docs and more are
    * unmeasured. The frame reads no index and no batch, so
    * every index-reading leg has run when this returns and the
    * attribution stays correct if the caller folds into the indexes
    * before reading it. (A checkpointed frame would carry its source
    * plan's size estimate, a join's being the product of its inputs',
    * and be delivered through sort-merge joins and bloom filters.)
    *
    * The three tiers probe the WHOLE batch concurrently: tiers 1 and 3
    * from a two-thread pool, tier 2 in the calling thread. Precedence —
    * exact, then near_dup, then semantic — is applied when the
    * attribution is assembled. That is the oracle's own model (its
    * per-tier CTEs rank over all docs and a CASE masks the lower
    * tiers, [[frontDoorOracleAt]]) and changes no row, since each
    * doc's probe result does not depend on which other docs are
    * probed. Tiers 2 and 3 pay for the exact-matched docs too (bounded
    * by the tier-1 match rate); in exchange neither waits for tier 1,
    * whose manifest and probe used to head the whole chain. Awaits are
    * bounded — the A12 fail-loud contract, same envelope as the chunk
    * pool.
    *
    * Oversized batches (r15 verdict item 1): only tier 2's candidate
    * verify join has super-linear width — tiers 1 and 3 are narrow
    * partition-pruned joins (fingerprints; IVF cells) that run
    * whole-batch regardless. So tier 2 signs the batch ONCE and, past
    * `maxDocsPerBatch` signed docs (counted by its band manifest job),
    * re-chunks ONLY the minhash verify through [[chunkedPairsCore]] —
    * exactly the [[pairsVsIndexChunked]] path ([[probeSignedPairs]]).
    * Per-doc probe independence keeps the attribution
    * single-batch-identical (AdmissionIndexSpec pins chunked ≡
    * single). */
  private def frontDoorProbe(incoming: DataFrame, spark: SparkSession,
                             sfDir: String, dir: String, edir: String,
                             fdir: String, threshold: Double,
                             embThreshold: Double, nProbe: Int,
                             maxDocsPerBatch: Long = Long.MaxValue,
                             probeParallelism: Int = DefaultProbeParallelism)
      : (DataFrame, DataFrame, () => Unit) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val signed1 = signedBatch(incoming, dir, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val exactF = Future(fpProbeOnDriver(incoming, fdir))
      val semF = Future {
        val vecs = graft.Tables.embeddings(spark, sfDir)
          .join(incoming.select(col("doc_id")),
            col("vec_id") === col("doc_id"), "left_semi")
        val (scored, release) = embScoredPlan(vecs, edir, embThreshold, nProbe)
        try bestPerDoc(scored) finally release()
      }
      val nd = probeSignedPairs(signed1.select(col("doc_id").as("a"),
          col("hset").as("ha"), col("sig").as("siga")), dir, threshold,
        maxDocsPerBatch, probeParallelism, DefaultChunkVerifyTimeout,
        checkpoint = false)(bestPerDoc)
      def awaited[T](f: Future[T], tier: String): T =
        try Await.result(f, DefaultChunkVerifyTimeout)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            throw new IllegalStateException(
              s"front-door $tier probe exceeded $DefaultChunkVerifyTimeout " +
                "— failing loud (A12) instead of hanging on a wedged job")
        }
      val (ids, exact) = awaited(exactF, "exact")
      val sem = awaited(semF, "semantic")
      val rows = ids.sorted.toSeq.map { d =>
        val (tier, m) = exact.get(d).map("exact" -> _)
          .orElse(nd.get(d).map("near_dup" -> _))
          .orElse(sem.get(d).map("semantic" -> _))
          // -1 sentinel, not NULL: admitted docs have no match, and a
          // NULL would make the whole column float-ish in downstream
          // pandas/arrow consumers (and NaN ≠ NaN in naive compares)
          .getOrElse("admitted" -> -1L)
        org.apache.spark.sql.Row(d, tier, m)
      }
      import scala.jdk.CollectionConverters._
      val att = spark.createDataFrame(rows.asJava, SubTableSchemas("att"))
      (att, signed1, () => { signed1.unpersist(false); () })
    } catch {
      case scala.util.control.NonFatal(e) => signed1.unpersist(false); throw e
    } finally { pool.shutdownNow(); () }
  }

  // ---- staged round attribution: the replay-safety anchor ----------
  //
  // The composed fold commits THREE separate generations. A crash
  // between them used to poison the replay: the re-probe saw the
  // round's own already-committed fp generation, the batch's admitted
  // docs self-rejected as exact dups, and the remaining tiers
  // committed EMPTY generations under the same genKey — permanently
  // (caught by this round's review). The fix is to make the round's
  // attribution itself durable FIRST: it is committed under the text
  // index dir's `staged/` ([[GenerationStore]]), and every fold
  // derives its admitted set from the staged frame. A replay that finds the stage committed skips the probe
  // entirely (immune to whatever subset of folds landed) and re-runs
  // only the idempotent folds; a crash before the stage committed
  // left no fold behind, so the fresh probe is clean. The staged
  // frames are batch-sized (id + tier + match id) and keyed like
  // generations — one per genKey, replay-stable.

  /** Publish `att` as the committed round attribution for `adir`;
    * no-op if already committed (a concurrent/replayed stager loses
    * cleanly via the atomic publish). */
  private def stageAttribution(att: DataFrame, adir: String,
                               genKey: String): Unit =
    GenerationStore.commit(adir, GenerationStore.buildTmpDir(adir)) { tmp =>
      att.write.mode("overwrite").parquet(s"$tmp/att")
      Seq("genKey" -> genKey, "staged" -> true)
    }

  private def readStaged(spark: SparkSession, adir: String): DataFrame =
    readSub(spark, adir, "att")

  /** Fold one round's admitted docs into all three tiers — each append
    * idempotent per genKey. `signed1` (the probe's own signed frame)
    * skips the re-sign on the fresh path; a replay passes None and
    * pays one sign pass over the admitted docs only. */
  private def foldAdmitted(batch1: DataFrame, admitted: DataFrame,
                           signed1: Option[DataFrame], spark: SparkSession,
                           sfDir: String, dir: String, edir: String,
                           fdir: String, genKey: String,
                           threshold: Double): Unit = {
    fpAppendGeneration(
      batch1.join(admitted, Seq("doc_id"), "left_semi"), fdir, genKey)
    signed1 match {
      case Some(s) => appendGenerationSigned(
        s.join(admitted, Seq("doc_id"), "left_semi"), dir, genKey, threshold)
      case None => appendGeneration(
        batch1.join(admitted, Seq("doc_id"), "left_semi"), dir, genKey,
        threshold)
    }
    embAppendGeneration(
      graft.Tables.embeddings(spark, sfDir)
        .join(admitted, col("vec_id") === admitted("doc_id"), "left_semi"),
      edir, genKey)
  }

  /** One complete probe→stage→fold round of the composed front door —
    * THE shared ingest step of the batch lifecycle
    * ([[frontDoorLifecycleCore]]) and the streaming form
    * ([[startFrontDoorLifecycleStream]]), extracted so the crash
    * protocol lives in one place (r12 ADVICE). Fresh round: probe all
    * three tiers, stage the attribution durably FIRST, then fold the
    * admitted docs from the probe's own signed frame. Replay after a
    * partial fold (stage committed, some fold missing): the staged
    * frame IS the round's admitted set — no re-probe (which would see
    * the round's own generations and self-reject its admits), only the
    * idempotent missing folds. Fully committed round: no-op. Returns
    * the staged attribution dir — `readStaged` on it is replay-stable
    * byte-for-byte. Oversized batches re-chunk their probe to the
    * measured [[DefaultMaxDocsPerBatch]] operating point (see the
    * fresh-path comment); output is single-batch-identical. */
  private[operators] def probeStageFold(batch: DataFrame, spark: SparkSession,
      sfDir: String, dir: String, edir: String, fdir: String,
      genKey: String, threshold: Double, embThreshold: Double,
      nProbe: Int,
      maxDocsPerBatch: Long = DefaultMaxDocsPerBatch): String = {
    val adir = GenerationStore.stagedDir(dir, genKey)
    if (!GenerationStore.committed(adir)) {
      // fresh round: probe (no fold has landed — the stage commits
      // first), stage, fold from the shared signed frame. An oversized
      // batch re-chunks its tier-2 verify INSIDE [[frontDoorProbe]]
      // (r15 verdict item 1): tiers 1/3 run whole-batch (narrow pruned
      // joins), the minhash verify goes through the shared
      // touched-bucket manifest with overlapped chunk rounds — the r14
      // form here pushed ALL tiers chunk-by-chunk through
      // frontDoorProbe serially. Nothing folds until the whole probe
      // finished, so every chunk sees the same static index state;
      // per-doc probe independence keeps the staged attribution
      // single-batch-identical (spec-pinned)
      val cached = batch.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (att, signed1, release) = frontDoorProbe(cached, spark, sfDir,
        dir, edir, fdir, threshold, embThreshold, nProbe, maxDocsPerBatch)
      try {
        stageAttribution(att, adir, genKey)
        val admitted = readStaged(spark, adir)
          .filter(col("tier") === lit("admitted")).select(col("doc_id"))
        foldAdmitted(cached, admitted, Some(signed1), spark, sfDir,
          dir, edir, fdir, genKey, threshold)
      } finally { release(); cached.unpersist(false); () }
    } else if (!(GenerationStore.generationCommitted(fdir, genKey) &&
                 GenerationStore.generationCommitted(dir, genKey) &&
                 GenerationStore.generationCommitted(edir, genKey))) {
      // replay after a partial fold: admitted comes from the staged
      // frame, never from a re-probe
      val admitted = readStaged(spark, adir)
        .filter(col("tier") === lit("admitted")).select(col("doc_id"))
      foldAdmitted(batch, admitted, None, spark, sfDir,
        dir, edir, fdir, genKey, threshold)
    }
    adir
  }

  /** The production STREAMING front door: the incoming document stream
    * wrapped in `foreachBatch`, each micro-batch run through the full
    * three-tier [[frontDoorBatch]] (persisted fp / minhash / IVF
    * indexes, each tier pruned to what the previous passed) and handed
    * materialized to `sink` with its batch id. Zero streaming state —
    * every tier is a batch probe against static indexes; exactly-once
    * per doc within a batch, sinks needing cross-restart idempotence
    * key on (batchId, doc_id), the standard foreachBatch contract. */
  def startFrontDoorStream(streamDocs: DataFrame, sfDir: String,
      threshold: Double = Dedup.DefaultThreshold,
      maxDfFrac: Double = Dedup.DefaultMaxDfFrac,
      embThreshold: Double = EmbThreshold,
      centroids: Int = EmbCentroids,
      nProbe: Int = EmbNProbe)
      (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    streamDocs.writeStream
      .foreachBatch((mb: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                     id: Long) => sink(
        frontDoorBatch(mb.toDF(), mb.sparkSession, sfDir, threshold,
          maxDfFrac, embThreshold, centroids, nProbe), id))
      .start()

  /** q143 driver form — the COMPOSED front door's full ingest
    * lifecycle, closing the one semantic gap the per-tier lifecycles
    * (q137/q141) left open: q139 probes three persisted indexes but
    * never folds what it admits, so re-submitting an identical batch
    * re-admits every doc. This is the integrated loop a production
    * ingest runs (reference analog: the plants task's one
    * lookup-train-emit pipeline, plants_classifier.py:183–231), on a
    * mod-3 split so disjoint batches exist: build all three indexes
    * (base = id % 3 == 0) → batch1 (% 3 == 1) through the three-tier
    * gate → fold batch1's ADMITTED docs into ALL THREE tiers as one
    * idempotent delta generation (fingerprints via
    * [[fpAppendGeneration]], signatures via [[appendGenerationSigned]]
    * — signed ONCE, shared by probe and fold — vectors via
    * [[embAppendGeneration]]) → batch2 (% 3 == 2) through the same
    * gate. Output = batch2's per-doc attribution, whose match_ids now
    * reach into batch1 (ids ≡ 1 mod 3): the COMPOSED gate property —
    * what batch 1 admitted through any tier, batch 2 cannot re-admit. */
  def frontDoorLifecycle(spark: SparkSession, sfDir: String,
                         threshold: Double = Dedup.DefaultThreshold,
                         maxDfFrac: Double = Dedup.DefaultMaxDfFrac,
                         embThreshold: Double = EmbThreshold,
                         centroids: Int = EmbCentroids,
                         nProbe: Int = EmbNProbe): DataFrame =
    frontDoorLifecycleCore(spark, sfDir, threshold, maxDfFrac,
      embThreshold, centroids, nProbe, m = 3, genTag = "fdGen1",
      compact = false)

  /** q144 driver form — the composed lifecycle with ALL THREE tiers'
    * compaction in the maintenance slot (q138/q142's composed form),
    * on its own mod-4 index family. The oracle models NO compaction —
    * the pin is that the three compactions together are invisible to
    * the composed gate's every answer while returning each index to
    * single-root shape; a warm re-run is fully idempotent. */
  def frontDoorCompaction(spark: SparkSession, sfDir: String,
                          threshold: Double = Dedup.DefaultThreshold,
                          maxDfFrac: Double = Dedup.DefaultMaxDfFrac,
                          embThreshold: Double = EmbThreshold,
                          centroids: Int = EmbCentroids,
                          nProbe: Int = EmbNProbe): DataFrame =
    frontDoorLifecycleCore(spark, sfDir, threshold, maxDfFrac,
      embThreshold, centroids, nProbe, m = 4, genTag = "fdGenC1",
      compact = true)

  private def frontDoorLifecycleCore(spark: SparkSession, sfDir: String,
      threshold: Double, maxDfFrac: Double, embThreshold: Double,
      centroids: Int, nProbe: Int, m: Int, genTag: String,
      compact: Boolean): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    // famTag "fd": the composed lifecycle owns its own index family —
    // without it the mod-3/4 dirs are q137/q141's, whose text-only /
    // emb-only folds would leak their admits into the composed probes
    val (dir, edir, fdir) = ensureFrontDoorIndexes(spark, sfDir,
      threshold, maxDfFrac, centroids, baseMod = m, famTag = "fd")
    val genKey = s"$sfDir|$genTag"
    // round 1 replays only until all three folds are committed (the
    // outer check skips even the batch construction on a fully-warm
    // run); [[probeStageFold]] carries the probe-or-staged crash
    // protocol — the round's attribution is durable BEFORE any fold
    // commits, so a replay after a partial fold never re-probes
    // against the round's own generations
    if (!(GenerationStore.generationCommitted(fdir, genKey) &&
          GenerationStore.generationCommitted(dir, genKey) &&
          GenerationStore.generationCommitted(edir, genKey))) {
      probeStageFold(docs.filter(col("doc_id") % m === 1), spark,
        sfDir, dir, edir, fdir, genKey, threshold, embThreshold, nProbe)
      ()
    }
    // default K*=9 maintenance cadence on ALL THREE tiers, as in the
    // streaming body — no-op below the cadence, probe-invisible above
    Seq(fdir, dir, edir).foreach { ix => maybeCompact(spark, ix); () }
    if (compact) {
      fpCompactIndex(spark, fdir)
      compactIndex(spark, dir)
      embCompactIndex(spark, edir)
    }
    frontDoorOn(docs.filter(col("doc_id") % m === 2), spark, sfDir,
      dir, edir, fdir, threshold, embThreshold, nProbe)
  }

  val frontDoorOracle: String = frontDoorOracleAt(
    Dedup.DefaultThreshold, Dedup.DefaultMaxDfFrac,
    EmbThreshold, EmbCentroids, EmbNProbe)

  /** Composes the three tiers' CTE chains (exact fingerprint join,
    * the mod-2 minhash pair CTEs, the IVF cell-assignment CTEs) and
    * attributes each incoming doc to its first rejecting tier. The
    * per-tier best-match CTEs rank over ALL docs — as the engine's
    * tiers probe the whole batch — and the CASE precedence masks the
    * lower tiers exactly as the engine's driver-side assembly does. */
  def frontDoorOracleAt(threshold: Double, maxDfFrac: Double,
                        embThreshold: Double, centroids: Int,
                        nProbe: Int): String =
    s"""WITH ${Dedup.oracleMinhashPairsCtes(threshold, maxDfFrac, "doc_id % 2 = 0")},
      |${embOracleCtes(centroids, nProbe)},
      |exact_best AS (
      |  SELECT d.doc_id, MIN(e.doc_id) AS exact_id
      |  FROM documents d JOIN documents e
      |    ON e.doc_id % 2 = 0
      |   AND md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) =
      |       md5(trim(regexp_replace(lower(e.text), '\\s+', ' ', 'g')))
      |  WHERE d.doc_id % 2 = 1
      |  GROUP BY d.doc_id),
      |nd_ranked AS (
      |  SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS doc_id,
      |         CASE WHEN a % 2 = 1 THEN b ELSE a END AS nd_id,
      |         row_number() OVER (
      |           PARTITION BY CASE WHEN a % 2 = 1 THEN a ELSE b END
      |           ORDER BY jac DESC,
      |                    CASE WHEN a % 2 = 1 THEN b ELSE a END ASC) AS rnk
      |  FROM mp WHERE (a % 2) <> (b % 2)),
      |nd_best AS (SELECT doc_id, nd_id FROM nd_ranked WHERE rnk = 1),
      |sem_ranked AS (
      |  SELECT batch_vec AS doc_id, base_vec AS sem_id,
      |         row_number() OVER (PARTITION BY batch_vec
      |                            ORDER BY cos DESC, base_vec ASC) AS rnk
      |  FROM scored WHERE cos >= $embThreshold),
      |sem_best AS (SELECT doc_id, sem_id FROM sem_ranked WHERE rnk = 1)
      |SELECT d.doc_id,
      |       CASE WHEN x.exact_id IS NOT NULL THEN 'exact'
      |            WHEN n.nd_id IS NOT NULL THEN 'near_dup'
      |            WHEN s.sem_id IS NOT NULL THEN 'semantic'
      |            ELSE 'admitted' END AS tier,
      |       coalesce(x.exact_id, n.nd_id, s.sem_id, -1) AS match_id
      |FROM documents d
      |LEFT JOIN exact_best x ON x.doc_id = d.doc_id
      |LEFT JOIN nd_best n ON n.doc_id = d.doc_id
      |LEFT JOIN sem_best s ON s.doc_id = d.doc_id
      |WHERE d.doc_id % 2 = 1
      |ORDER BY d.doc_id""".stripMargin

  /** The composed lifecycle as a STREAMING ingest loop — the form a
    * production front door actually runs: each micro-batch goes
    * through the three-tier probe against the lifecycle's OWN index
    * family, the attribution is handed (materialized) to `sink`, and
    * the batch's admitted docs fold into ALL THREE tiers keyed by the
    * micro-batch id. foreachBatch is at-least-once — a crashed sink
    * replays the batch — and the per-genKey idempotent fold is exactly
    * the bridge to effective exactly-once on the INDEX side: a
    * replayed batch re-probes (answers unchanged: its own committed
    * generation would reject its docs as self-dups only on ids it
    * already admitted, but the fold is skipped outright because the
    * generation is committed) and cannot double-fold. Later
    * micro-batches reject against base ∪ everything earlier batches
    * admitted — the q143 gate property, continuous. A micro-batch
    * larger than `maxDocsPerBatch` (default: the measured
    * [[DefaultMaxDocsPerBatch]] operating point) re-chunks its probe
    * inside [[probeStageFold]] — identical output, bounded per-probe
    * width, so an unthrottled source cannot induce the single-batch
    * worst case. `famTag` defaults
    * to its own family ("fds") so the stream never couples to the
    * q143/q144 driver state; `baseMod` picks the base-split convention
    * the indexes are built over.
    *
    * Replay delivery: the attribution handed to `sink` is read from
    * the micro-batch's STAGED frame (committed before any fold), so a
    * replayed batch id delivers byte-identical rows to the original
    * delivery — without the stage, a replay would re-probe against
    * the batch's own folded generations and report its admitted docs
    * as exact self-dups. */
  def startFrontDoorLifecycleStream(streamDocs: DataFrame, sfDir: String,
      threshold: Double = Dedup.DefaultThreshold,
      maxDfFrac: Double = Dedup.DefaultMaxDfFrac,
      embThreshold: Double = EmbThreshold,
      centroids: Int = EmbCentroids,
      nProbe: Int = EmbNProbe,
      baseMod: Int = 3, famTag: String = "fds",
      compactAfterGens: Int = DefaultCompactAfterGens,
      maxDocsPerBatch: Long = DefaultMaxDocsPerBatch)
      (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    streamDocs.writeStream
      .foreachBatch((mb: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                     id: Long) => {
        val spark = mb.sparkSession
        val (dir, edir, fdir) = ensureFrontDoorIndexes(spark, sfDir,
          threshold, maxDfFrac, centroids, baseMod = baseMod,
          famTag = famTag)
        val genKey = s"$sfDir|fdStream|$famTag|$id"
        val adir = probeStageFold(mb.toDF(), spark, sfDir, dir, edir,
          fdir, genKey, threshold, embThreshold, nProbe, maxDocsPerBatch)
        // maintenance slot: each tier compacts on the measured cadence
        // (per-probe generation overhead vs amortized compaction cost —
        // [[maybeCompact]]); compaction is probe-invisible, so firing
        // it here cannot change any later batch's attribution
        Seq(fdir, dir, edir).foreach { ix =>
          maybeCompact(spark, ix, compactAfterGens); ()
        }
        // delivery ALWAYS reads the staged frame: replay-stable rows
        sink(readStaged(spark, adir), id)
      })
      .start()

  /** q145 driver form — the composed lifecycle AS THE STREAM it runs in
    * production, driver-gated (r12 verdict item 1: the production
    * ingest shape was the one surface the oracle never saw). Drives
    * [[startFrontDoorLifecycleStream]] on a mod-4 split over THREE
    * micro-batches (residues 1, 2, 3 — ≥3 folded generations, so
    * transitivity ACROSS generations is oracle-proven: round 3 rejects
    * dups of what rounds 1 AND 2 admitted), then REPLAYS round 1's
    * micro-batch as a second stream's batch 0 — same batch id ⇒ same
    * genKey ⇒ the at-least-once replay path: the probe is skipped, the
    * folds are committed no-ops, and the delivery must be
    * byte-identical to the original (rows 4 ≡ rows 1 under the same
    * oracle). Output = every delivered attribution tagged with its
    * round (1–3 = the stream, 4 = the replay), the exactly-once bridge
    * as data.
    *
    * The MemoryStream feed is the HARNESS's source (a production
    * ingest reads Kafka/files — the driver-side collect here is the
    * test fixture's micro-batch boundary control, bounded by one
    * micro-batch per round by construction, never a data-path
    * collect). Everything downstream of the source is the production
    * `foreachBatch` loop itself, including its [[maybeCompact]]
    * maintenance slot. */
  def frontDoorStreamLifecycle(spark: SparkSession, sfDir: String,
      threshold: Double = Dedup.DefaultThreshold,
      maxDfFrac: Double = Dedup.DefaultMaxDfFrac,
      embThreshold: Double = EmbThreshold,
      centroids: Int = EmbCentroids,
      nProbe: Int = EmbNProbe): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val m = 4
    val rounds = (1 to 3).map { r =>
      graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % m === r)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().toSeq
    }
    val delivered = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, String, Long)]
    def drive(batches: Seq[Seq[(Long, String)]], roundOffset: Int): Unit = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = startFrontDoorLifecycleStream(
        mem.toDF().toDF("doc_id", "text"), sfDir, threshold, maxDfFrac,
        embThreshold, centroids, nProbe, baseMod = m, famTag = "fds") {
        (df, id) =>
          df.collect().foreach(r => delivered +=
            ((roundOffset + id.toInt, r.getLong(0), r.getString(1),
              r.getLong(2))))
          ()
      }
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    drive(rounds, roundOffset = 1)        // batch ids 0,1,2 → rounds 1–3
    drive(Seq(rounds.head), roundOffset = 4) // replay: batch id 0 again
    delivered.toSeq.toDF("round", "doc_id", "tier", "match_id")
      .orderBy(col("round"), col("doc_id"))
  }

  val frontDoorStreamLifecycleOracle: String =
    frontDoorStreamLifecycleOracleAt(
      Dedup.DefaultThreshold, Dedup.DefaultMaxDfFrac,
      EmbThreshold, EmbCentroids, EmbNProbe, 4, 3)

  /** The multi-round composed-stream oracle at split modulo `m` over
    * `rounds` micro-batches (residue k = round k's batch): round k's
    * attribution runs every tier against base ∪ everything rounds
    * 1..k−1 admitted — the per-round admitted sets accumulate exactly
    * like the engine's delta generations (per-doc tier results are
    * independent of which other docs probe, so the oracle's
    * full-rank + CASE-precedence spelling equals the engine's
    * survivor chaining, same argument as [[frontDoorOracleAt]]).
    * The final SELECT replays round 1's attribution as round
    * `rounds`+1 — the engine's replayed micro-batch must deliver it
    * byte-identically. */
  def frontDoorStreamLifecycleOracleAt(threshold: Double,
      maxDfFrac: Double, embThreshold: Double, centroids: Int,
      nProbe: Int, m: Int, rounds: Int): String = {
    embOracleGuards(centroids, nProbe)
    require(rounds >= 1 && rounds < m,
      s"rounds must be residues 1..m-1, got $rounds at mod $m")
    val scores = embScoresExpr
    val perRound = (1 to rounds).map { k =>
      // membership for round k: base ∪ adm1..adm_{k-1} (ids), and the
      // same set's cell assignments for the semantic tier
      val idxPrev = if (k == 1) "idx1" else s"idx$k"
      val idxCte =
        if (k == 1)
          s"""idx1 AS (
            |  SELECT doc_id FROM documents WHERE doc_id % $m = 0)"""
            .stripMargin
        else
          s"""idx$k AS (
            |  SELECT doc_id FROM idx${k - 1}
            |  UNION ALL SELECT doc_id FROM adm${k - 1})""".stripMargin
      val aidxCte =
        if (k == 1) "aidx1 AS (SELECT * FROM assigned_base)"
        else
          s"""assigned_adm${k - 1} AS (
            |  SELECT q.vec_id, q.qv, q.n2, list_min($scores) % 256 AS cell
            |  FROM qn q, carr
            |  WHERE EXISTS (SELECT 1 FROM adm${k - 1}
            |                WHERE adm${k - 1}.doc_id = q.vec_id)),
            |aidx$k AS (
            |  SELECT * FROM aidx${k - 1}
            |  UNION ALL SELECT * FROM assigned_adm${k - 1})""".stripMargin
      s"""$idxCte,
        |$aidxCte,
        |exact$k AS (
        |  SELECT d.doc_id, MIN(e.doc_id) AS exact_id
        |  FROM fpd d JOIN fpd e ON d.fp = e.fp
        |  JOIN $idxPrev i ON i.doc_id = e.doc_id
        |  WHERE d.doc_id % $m = $k GROUP BY d.doc_id),
        |nd${k}r AS (
        |  SELECT CASE WHEN a % $m = $k THEN a ELSE b END AS doc_id,
        |         CASE WHEN a % $m = $k THEN b ELSE a END AS nd_id, jac
        |  FROM mp WHERE ((a % $m = $k) <> (b % $m = $k))
        |    AND EXISTS (SELECT 1 FROM $idxPrev i
        |                WHERE i.doc_id = CASE WHEN a % $m = $k THEN b ELSE a END)),
        |nd$k AS (
        |  SELECT doc_id, nd_id FROM (
        |    SELECT doc_id, nd_id,
        |           row_number() OVER (PARTITION BY doc_id
        |                              ORDER BY jac DESC, nd_id ASC) AS rnk
        |    FROM nd${k}r) WHERE rnk = 1),
        |probes$k AS (
        |  SELECT q.vec_id, q.qv, q.n2, t.pcell
        |  FROM qn q, carr,
        |       unnest(list_transform(list_sort($scores)[1:$nProbe], x -> x % 256)) AS t(pcell)
        |  WHERE q.vec_id % $m = $k),
        |sem$k AS (
        |  SELECT doc_id, sem_id FROM (
        |    SELECT doc_id, sem_id,
        |           row_number() OVER (PARTITION BY doc_id
        |                              ORDER BY cos DESC, sem_id ASC) AS rnk
        |    FROM (SELECT x.vec_id AS doc_id, y.vec_id AS sem_id,
        |                 ${Similarity.oracleCosExpr} AS cos
        |          FROM probes$k x JOIN aidx$k y ON x.pcell = y.cell)
        |    WHERE cos >= $embThreshold) WHERE rnk = 1),
        |att$k AS MATERIALIZED (
        |  SELECT d.doc_id,
        |         CASE WHEN x.exact_id IS NOT NULL THEN 'exact'
        |              WHEN n.nd_id IS NOT NULL THEN 'near_dup'
        |              WHEN s.sem_id IS NOT NULL THEN 'semantic'
        |              ELSE 'admitted' END AS tier,
        |         coalesce(x.exact_id, n.nd_id, s.sem_id, -1) AS match_id
        |  FROM documents d
        |  LEFT JOIN exact$k x ON x.doc_id = d.doc_id
        |  LEFT JOIN nd$k n ON n.doc_id = d.doc_id
        |  LEFT JOIN sem$k s ON s.doc_id = d.doc_id
        |  WHERE d.doc_id % $m = $k),
        |adm$k AS (SELECT doc_id FROM att$k WHERE tier = 'admitted')"""
        .stripMargin
    }.mkString(",\n")
    val unions = (1 to rounds)
      .map(k => s"SELECT $k AS round, * FROM att$k")
      .mkString("\n  UNION ALL ") +
      s"\n  UNION ALL SELECT ${rounds + 1} AS round, * FROM att1"
    s"""WITH ${Dedup.oracleMinhashPairsCtes(threshold, maxDfFrac, s"doc_id % $m = 0")},
      |${Similarity.oracleQuantized},
      |ranked_cents AS (
      |  SELECT qv, n2,
      |         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
      |         vec_id
      |  FROM qn WHERE vec_id % $m = 0 ORDER BY h, vec_id LIMIT $centroids),
      |carr AS (
      |  SELECT list(struct_pack(qv := qv, n2 := n2) ORDER BY h, vec_id) AS cents
      |  FROM ranked_cents),
      |assigned_base AS (
      |  SELECT q.vec_id, q.qv, q.n2, list_min($scores) % 256 AS cell
      |  FROM qn q, carr WHERE q.vec_id % $m = 0),
      |fpd AS MATERIALIZED (
      |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |$perRound
      |SELECT round, doc_id, tier, match_id FROM (
      |  $unions)
      |ORDER BY round, doc_id""".stripMargin
  }

  val frontDoorLifecycleOracle: String = frontDoorLifecycleOracleAt(
    Dedup.DefaultThreshold, Dedup.DefaultMaxDfFrac,
    EmbThreshold, EmbCentroids, EmbNProbe, 3)

  val frontDoorCompactionOracle: String = frontDoorLifecycleOracleAt(
    Dedup.DefaultThreshold, Dedup.DefaultMaxDfFrac,
    EmbThreshold, EmbCentroids, EmbNProbe, 4)

  /** The composed lifecycle's oracle at split modulo `m`: round 1's
    * admitted set is re-derived from ALL THREE tiers (fp match vs the
    * mod-`m` base; minhash pairs with hot stats scoped to that base;
    * IVF scoring under the base's frozen centroids — per-doc tier
    * results are independent of which other docs probe, so "admitted"
    * = matched by none, exactly the engine's survivor chaining); round
    * 2's attribution then runs every tier against base ∪ admitted:
    * exact2 takes MIN over the widened id set (the engine's cross-root
    * min-fold), nd2/sem2 rank best-match with the admitted side
    * eligible. Residues ≥ 3 are neither base nor batch for any m.
    * Compaction (m = 4) is invisible by construction — the oracle
    * models none. */
  def frontDoorLifecycleOracleAt(threshold: Double, maxDfFrac: Double,
                                 embThreshold: Double, centroids: Int,
                                 nProbe: Int, m: Int): String = {
    embOracleGuards(centroids, nProbe)
    val scores = embScoresExpr
    s"""WITH ${Dedup.oracleMinhashPairsCtes(threshold, maxDfFrac, s"doc_id % $m = 0")},
      |${Similarity.oracleQuantized},
      |ranked_cents AS (
      |  SELECT qv, n2,
      |         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
      |         vec_id
      |  FROM qn WHERE vec_id % $m = 0 ORDER BY h, vec_id LIMIT $centroids),
      |carr AS (
      |  SELECT list(struct_pack(qv := qv, n2 := n2) ORDER BY h, vec_id) AS cents
      |  FROM ranked_cents),
      |assigned_base AS (
      |  SELECT q.vec_id, q.qv, q.n2, list_min($scores) % 256 AS cell
      |  FROM qn q, carr WHERE q.vec_id % $m = 0),
      |fpd AS MATERIALIZED (
      |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |exact1 AS (
      |  SELECT d.doc_id FROM fpd d
      |  WHERE d.doc_id % $m = 1 AND EXISTS (
      |    SELECT 1 FROM fpd e WHERE e.doc_id % $m = 0 AND e.fp = d.fp)),
      |nd1 AS (
      |  SELECT DISTINCT CASE WHEN a % $m = 1 THEN a ELSE b END AS doc_id
      |  FROM mp WHERE (a % $m = 1 AND b % $m = 0) OR (a % $m = 0 AND b % $m = 1)),
      |probes1 AS (
      |  SELECT q.vec_id, q.qv, q.n2, t.pcell
      |  FROM qn q, carr,
      |       unnest(list_transform(list_sort($scores)[1:$nProbe], x -> x % 256)) AS t(pcell)
      |  WHERE q.vec_id % $m = 1),
      |sem1 AS (
      |  SELECT DISTINCT x.vec_id AS doc_id
      |  FROM probes1 x JOIN assigned_base y ON x.pcell = y.cell
      |  WHERE ${Similarity.oracleCosExpr} >= $embThreshold),
      |adm1 AS MATERIALIZED (
      |  SELECT doc_id FROM documents dd WHERE doc_id % $m = 1
      |    AND NOT EXISTS (SELECT 1 FROM exact1 WHERE exact1.doc_id = dd.doc_id)
      |    AND NOT EXISTS (SELECT 1 FROM nd1 WHERE nd1.doc_id = dd.doc_id)
      |    AND NOT EXISTS (SELECT 1 FROM sem1 WHERE sem1.doc_id = dd.doc_id)),
      |exact2 AS (
      |  SELECT d.doc_id, MIN(e.doc_id) AS exact_id
      |  FROM fpd d JOIN fpd e ON d.fp = e.fp
      |  WHERE d.doc_id % $m = 2
      |    AND (e.doc_id % $m = 0 OR EXISTS (
      |           SELECT 1 FROM adm1 WHERE adm1.doc_id = e.doc_id))
      |  GROUP BY d.doc_id),
      |nd2r AS (
      |  SELECT CASE WHEN a % $m = 2 THEN a ELSE b END AS doc_id,
      |         CASE WHEN a % $m = 2 THEN b ELSE a END AS nd_id, jac
      |  FROM mp WHERE ((a % $m = 2) <> (b % $m = 2))
      |    AND (CASE WHEN a % $m = 2 THEN b ELSE a END % $m = 0
      |         OR EXISTS (SELECT 1 FROM adm1
      |                    WHERE adm1.doc_id = CASE WHEN a % $m = 2 THEN b ELSE a END))),
      |nd2 AS (
      |  SELECT doc_id, nd_id FROM (
      |    SELECT doc_id, nd_id,
      |           row_number() OVER (PARTITION BY doc_id
      |                              ORDER BY jac DESC, nd_id ASC) AS rnk
      |    FROM nd2r) WHERE rnk = 1),
      |assigned_adm AS (
      |  SELECT q.vec_id, q.qv, q.n2, list_min($scores) % 256 AS cell
      |  FROM qn q, carr
      |  WHERE EXISTS (SELECT 1 FROM adm1 WHERE adm1.doc_id = q.vec_id)),
      |assigned2 AS (
      |  SELECT * FROM assigned_base UNION ALL SELECT * FROM assigned_adm),
      |probes2 AS (
      |  SELECT q.vec_id, q.qv, q.n2, t.pcell
      |  FROM qn q, carr,
      |       unnest(list_transform(list_sort($scores)[1:$nProbe], x -> x % 256)) AS t(pcell)
      |  WHERE q.vec_id % $m = 2),
      |scored2 AS (
      |  SELECT x.vec_id AS doc_id, y.vec_id AS sem_id,
      |         ${Similarity.oracleCosExpr} AS cos
      |  FROM probes2 x JOIN assigned2 y ON x.pcell = y.cell),
      |sem2 AS (
      |  SELECT doc_id, sem_id FROM (
      |    SELECT doc_id, sem_id,
      |           row_number() OVER (PARTITION BY doc_id
      |                              ORDER BY cos DESC, sem_id ASC) AS rnk
      |    FROM scored2 WHERE cos >= $embThreshold) WHERE rnk = 1)
      |SELECT d.doc_id,
      |       CASE WHEN x.exact_id IS NOT NULL THEN 'exact'
      |            WHEN n.nd_id IS NOT NULL THEN 'near_dup'
      |            WHEN s.sem_id IS NOT NULL THEN 'semantic'
      |            ELSE 'admitted' END AS tier,
      |       coalesce(x.exact_id, n.nd_id, s.sem_id, -1) AS match_id
      |FROM documents d
      |LEFT JOIN exact2 x ON x.doc_id = d.doc_id
      |LEFT JOIN nd2 n ON n.doc_id = d.doc_id
      |LEFT JOIN sem2 s ON s.doc_id = d.doc_id
      |WHERE d.doc_id % $m = 2
      |ORDER BY d.doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // Oracles — the all-pairs minhash CTEs with hot-set STATISTICS scoped
  // to the base side (df-at-build-time semantics, see the module doc),
  // filtered to cross-parity pairs. LSH banding gives a cross pair the
  // same band keys whether or not same-side pairs are generated, so
  // candidate recall and the jaccard verification agree exactly with
  // the index probe.
  // --------------------------------------------------------------------

  private val baseScope = "doc_id % 2 = 0"

  val admissionRejectOracle: String =
    admissionRejectOracleAt(Dedup.DefaultThreshold)

  def admissionRejectOracleAt(threshold: Double,
      maxDfFrac: Double = Dedup.DefaultMaxDfFrac): String =
    s"""WITH ${Dedup.oracleMinhashPairsCtes(threshold, maxDfFrac, baseScope)},
      |crossp AS (
      |  SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS batch_doc,
      |         CASE WHEN a % 2 = 1 THEN b ELSE a END AS base_doc, jac
      |  FROM mp WHERE (a % 2) <> (b % 2)),
      |best AS (
      |  SELECT batch_doc, base_doc, jac,
      |         row_number() OVER (PARTITION BY batch_doc
      |                            ORDER BY jac DESC, base_doc ASC) AS rnk
      |  FROM crossp)
      |SELECT batch_doc, base_doc, ROUND(jac, 4) AS jaccard
      |FROM best WHERE rnk = 1 ORDER BY batch_doc""".stripMargin

  val streamNearDupOracle: String =
    streamNearDupOracleAt(Dedup.DefaultThreshold)

  def streamNearDupOracleAt(threshold: Double,
      maxDfFrac: Double = Dedup.DefaultMaxDfFrac): String =
    s"""WITH ${Dedup.oracleMinhashPairsCtes(threshold, maxDfFrac, baseScope)},
      |crossp AS (
      |  SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS batch_doc,
      |         CASE WHEN a % 2 = 1 THEN b ELSE a END AS base_doc, jac
      |  FROM mp WHERE (a % 2) <> (b % 2))
      |SELECT batch_doc, base_doc, ROUND(jac, 4) AS jaccard
      |FROM crossp ORDER BY batch_doc, base_doc""".stripMargin

  /** The q148 oracle: the same batch-twin pair set, each pair ONCE
    * (single-copy semantics — the exactly-once pin), with batch_id
    * derived from the batch doc's residue exactly as the two driven
    * micro-batches split it (1 mod 4 → id 0, 3 mod 4 → id 1). */
  val streamNearDupSunkOracle: String =
    streamNearDupSunkOracleAt(Dedup.DefaultThreshold)

  def streamNearDupSunkOracleAt(threshold: Double,
      maxDfFrac: Double = Dedup.DefaultMaxDfFrac): String =
    s"""WITH ${Dedup.oracleMinhashPairsCtes(threshold, maxDfFrac, baseScope)},
      |crossp AS (
      |  SELECT CASE WHEN a % 2 = 1 THEN a ELSE b END AS batch_doc,
      |         CASE WHEN a % 2 = 1 THEN b ELSE a END AS base_doc, jac
      |  FROM mp WHERE (a % 2) <> (b % 2))
      |SELECT CAST(CASE WHEN batch_doc % 4 = 1 THEN 0 ELSE 1 END AS BIGINT) AS batch_id,
      |       batch_doc, base_doc, ROUND(jac, 4) AS jaccard
      |FROM crossp ORDER BY batch_id, batch_doc, base_doc""".stripMargin
}
