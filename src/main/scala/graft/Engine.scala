package graft

import org.apache.spark.sql.SparkSession

/** Session factory / configuration for the graft engine.
  *
  * The reference (Sage-Bionetworks/bridge-analytics-template) provisions an
  * analytics surface over S3/Parquet study data
  * (`src/copy_from_template.py:316-327`); our engine is the Spark-native
  * execution side of that surface. One object owns every session-level
  * setting so Verify / Bench / tests / user code agree on semantics.
  *
  * Scale notes (100 TB design point):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replace hand-tuned partition counts when the same plan runs at 1000×.
  *  - `shufflePartitions` defaults to the local core count; on a real
  *    cluster this is overridden (or left to AQE's coalescing) — the engine
  *    never hard-codes 200.
  *  - `nanosAsLong`: the `events` fixture carries Parquet
  *    `INT64 (TIMESTAMP(NANOS,false))`, which Spark 4 rejects by default.
  *    We read it as BIGINT nanoseconds and convert explicitly at use sites
  *    (see SURVEY.md §1.3, §7.4.3) — cheaper than a timestamp decode and
  *    keeps the vectorized reader on the fast path.
  *  - Codegen cache: Spark keeps generated classes in one JVM-wide cache,
  *    bounded by the static conf `spark.sql.codegen.cache.maxEntries`
  *    (Spark's default 100) and sized once, at `CodeGenerator`'s first
  *    use. A query that hits the cache skips janino and runs classes the
  *    JIT has already compiled. See [[CodegenCacheEntries]].
  */
object Engine {

  /** Bound of Spark's JVM-wide generated-class cache, set by [[configure]].
    *
    * Basis: the cache keys each generated class by its class loader, so a
    * class compiled on the driver and loaded again by the tasks takes two
    * entries. The SQL dashboard path (the `dashboard` workload in
    * `perfbench/`: ten query kinds with varying literals, seed 11) holds
    * 134 entries after its first pass and 174 after ten passes, so under
    * Spark's default of 100 it evicts and recompiles on most queries. 512
    * holds that working set about three times over: the cache is four LRU
    * segments of a quarter of the bound each, and the headroom keeps
    * every segment clear of eviction. One entry retains ~32-36 KiB of
    * heap (measured by invalidating a full cache and collecting), so a
    * full cache costs ~18 MiB.
    *
    * A caller overrides it by setting the same Spark conf on the builder
    * after [[configure]]; it takes effect only if no query has generated
    * code yet in this JVM. */
  val CodegenCacheEntries: Int = 512

  /** Apply the engine's required configs to an arbitrary builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // honor KeyGroupedPartitioning reported by V2 sources (the file
      // manifest reports `dir`), so per-study aggregations and
      // storage-partitioned joins skip the shuffle
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // request >= core-count input splits for small files. Parquet can
      // only split at row-group boundaries (the fixtures are single-group,
      // so this is best-effort there — operators whose parallelism must
      // not depend on the input's split count add their own distribution,
      // e.g. jaccardPairs' posting repartition); multi-group files and
      // JSON/CSV do split. On a 100 TB cluster inputs are already
      // thousands of splits.
      .config("spark.sql.files.minPartitionNum", shufflePartitions.toString)
      // reliable checkpoints (Checkpointing.cut under spark.graft
      // .checkpointDir) are deleted by the ContextCleaner once their RDD
      // is GC'd — without this, every CC/BFS round's per-vertex frame
      // accumulates under the checkpoint dir for the life of the job.
      // Must be set BEFORE the context starts (the cleaner reads it at
      // construction), which is why it lives here and not in
      // Checkpointing.cut.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Standalone session for tests / interactive use. */
  def session(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(master).appName("graft"),
      shufflePartitions
    ).getOrCreate()
    // getOrCreate RETURNS a pre-existing session unchanged — builder
    // configs are silently ignored, and the failures then surface far
    // from the cause (events reads die on TIMESTAMP(NANOS) without
    // nanosAsLong; join_asof_native fails to plan without the
    // extensions). Fail HERE, loudly, instead.
    require(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
      "Engine.session got a pre-existing SparkSession missing the engine's " +
        "required configs (nanosAsLong/extensions/UTC) — stop the other " +
        "session first, or build through Engine.configure yourself")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
