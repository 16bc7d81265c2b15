package graft

import org.apache.spark.sql.SparkSession

/** Shared session tuning for every graft entry point (Bench, Verify,
  * PlanDump, sweep harnesses) — measured, not guessed (guide §1, §9;
  * evidence in OPTIMIZATION_r17.md).
  *
  * `spark.shuffle.sort.bypassMergeThreshold`: Spark picks the
  * BypassMergeSortShuffleWriter whenever a shuffle has ≤200 reduce
  * partitions and no map-side aggregation. That writer opens one
  * DiskBlockObjectWriter PER REDUCE PARTITION per map task and then
  * concatenates the per-reducer files with FileChannel.transferTo —
  * which memory-maps and unmaps every segment. Thread dumps of the
  * bench session (jstack, 3 samples) showed the task threads pinned in
  * FileChannelImpl.map0/unmap0/write0 under
  * BypassMergeSortShuffleWriter.writePartitionedDataWithChannel: at
  * local[32] with 32 shuffle partitions that is 32 file creates + 32
  * mmap/munmap cycles per map task (mmap churn also triggers cross-core
  * TLB shootdowns), measured as a ~65 ms FIXED executor cost per
  * shuffle-writing task regardless of data volume — the dominant term
  * of every aggregate stage at fixture scale (groupBy fragment: 6.5 s
  * executor time → 1.5 s with the sort writer; ProfileProbe).
  *
  * Production-scale behavior is UNCHANGED by construction: real
  * deployments run reshuffles wider than 200 partitions, where Spark
  * already takes the SortShuffleWriter path this setting forces — the
  * local bench now exercises the same writer the 100 TB plan would.
  * Env-overridable for A/B measurement.
  *
  * Generated-code reuse: a long-lived session compiles each distinct
  * generated class once. Spark's `CodeGenerator.compile` memoizes
  * classes in one JVM-wide Guava cache keyed on (thread context
  * classloader, source). Two Spark defaults defeat it:
  *
  *  - `spark.sql.codegen.cache.maxEntries` = 100. Guava splits the bound
  *    across 4 segments of ~25 entries, so a working set thrashes well
  *    below 100 classes. Measured in perfbench (seed 401): `admission`
  *    compiled ~190 classes on every timed pass, `curation` 90;
  *    `analytics` already fit. See [[CodegenCacheEntries]] for the size.
  *  - `spark.sql.artifact.isolation.enabled` = true. Every session,
  *    including the clone each `writeStream.start()` runs on, executes
  *    under its own artifact classloader, so one source compiles again
  *    under a new key: with the larger cache alone, q148's two stream
  *    starts still recompiled 34 classes every pass. graft adds no
  *    session artifacts (no `addArtifact` / `addJar` in the program), so
  *    one shared classloader changes no class visibility.
  *
  * With both, timed perfbench passes compile no class (`curation` at
  * most 2 in one pass of a run), and traced `planning.codegen_s` fell
  * 4.08 s → 0 on `admission` and 1.39 s → 0 on `curation`
  * (OPTIMIZATION_r17.md, "Generated-code reuse"); `CodegenReuseSpec`
  * holds the line. Both settings are static, read when the JVM's first
  * session is built, and change no plan. They have no environment
  * override: the only alternative they could select is recompiling,
  * and a knob would let one entry point drift from the others. */
object SessionDefaults {
  /** Codegen cache bound. One full `graft.Bench` attempt (148 queries,
    * sf0.1, local[4]) compiles ~2,100 distinct classes, ~525 per Guava
    * segment; 4000 gives each segment 1000 slots, ~1.9× headroom, so
    * no segment evicts within a full suite. */
  val CodegenCacheEntries = 4000

  def tune(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.shuffle.sort.bypassMergeThreshold",
      sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "1"))
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
  // Measured and REJECTED (OPTIMIZATION_r17.md): size-based AQE
  // coalescing (coalescePartitions.parallelismFirst=false + a 64m
  // advisory size, the guide §9 shape) cut per-fragment executor time
  // ~40% in isolation but regressed the full suite 98.9 → 138.8 s —
  // the fixtures' CPU-per-byte is high (compiled text kernels), so
  // byte-sized coalescing serializes genuinely parallel reduce work
  // (q02's final aggregate fell to one task). parallelismFirst=true,
  // Spark's default, exists for exactly this case and stays.
}
