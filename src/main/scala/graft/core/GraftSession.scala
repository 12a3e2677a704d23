package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-oriented defaults.
  *
  * The reference pipeline (Ed-Fi-Exchange-OSS/API-to-AMT-Data-Lake) is a
  * single-process pandas program with no optimizer (SURVEY.md §4); here every
  * knob that pandas lacks is delegated to Catalyst/AQE:
  *
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  *     and dynamic broadcast conversion — the behaviours we'd otherwise have
  *     to hand-tune per dataset at 100 TB.
  *   - shuffle.partitions sized to the local core count for tests; on a real
  *     cluster AQE's coalesceShufflePartitions makes the initial number a
  *     ceiling, not a constant.
  *   - UTC session timezone so date keys (yyyyMMdd strings, SURVEY §2.6 F4)
  *     hash-match the DuckDB oracle.
  *   - Each query shape compiles once per JVM. The lake runs its work again
  *     and again in one JVM (`AmtLoop` rebuilds, fixpoint rounds, repeated
  *     consumer reads), but Spark's whole-stage codegen cache holds 100
  *     classes by default, and one sweep of the six lakebench
  *     `operators` queries compiles about 460 distinct ones. Identical pipelines also missed the cache
  *     because the codegen stage id was part of the class name
  *     (`GeneratedIteratorForCodegenStage17`). Each miss paid a Janino
  *     compile and a cold JIT warm-up of the new class. So:
  *       - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]],
  *         sized from the measured working set with headroom: with both
  *         settings the `operators` sequence compiles 316 distinct
  *         classes and a 41-view build on the bench's thin silver 285.
  *         Full, at about 8 KB of metaspace per class, it holds about
  *         16 MB.
  *       - `spark.sql.codegen.useIdInClassName=false`: one pipeline
  *         compiles to one class whatever its stage id. The cost is that
  *         generated-class names in stack traces no longer carry the
  *         stage id; the plan's `*(n)` markers still do.
  *     Measured on 4 cores (BENCH_NOTES "Codegen: compile once per JVM";
  *     compiles are `codegen_compiles` of `Measure count`): the
  *     `operators` sequence (warm-up q252 + q171, then sweeps 1/2/3)
  *     compiled 289 + 460/458/462 classes before, 239 + 77/0/0 after, and
  *     the lakebench `operators` `op_p50_ms` median fell 20.6 → 15.4 s in
  *     10 of 10 pairs; warm 41-view rebuilds, a fresh `AmtPipeline` each,
  *     compiled about 335 classes each before and 0–3 after, and took
  *     27–37 % less time, with used metaspace unchanged (168.6 vs
  *     169.8 MB after five builds). Plans, results and the codegen
  *     on/off decisions are unchanged. Both settings are JVM-wide: the
  *     cache size is a static conf, read once when the JVM first
  *     generates code.
  */
object GraftSession {

  /** Whole-stage codegen cache size: see the scaladoc above. */
  val CodegenCacheEntries = 2000

  def defaultParallelism: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Apply engine defaults to any builder (works for local and cluster). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Runtime bloom-filter pruning: a selective filter on one join side
      // builds a bloom filter that prunes the other side's scan — at
      // 100 TB this is the difference between scanning a full fact table
      // and only the fraction that can possibly join. Explicit (not left
      // to version defaults) because the engine counts on it.
      // (Spark 4 removed the semi-join-reduction runtime filter; bloom is
      // the only runtime filter kind now.)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Write timestamps as INT64 micros: readable by every modern engine
      // (the DuckDB oracle included) without INT96 legacy handling.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // zstd parquet: ~30% smaller than snappy at comparable speed — at
      // 100 TB of gold that is tens of TB of storage and scan bandwidth.
      .config("spark.sql.parquet.compression.codec", "zstd")
      // Parquet TIMESTAMP(NANOS) (the events table) has no native Spark
      // type; read as long nanos and convert in Lake.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  /** Cluster-deployment configurator: the same engine defaults plus the
    * sizing knobs that matter when the input is ~100 TB, with the math
    * spelled out instead of folklore numbers.
    *
    * @param inputTB      expected scan volume per heavy query, in TB
    * @param executorCores total cores across the cluster (e.g. 1000
    *                     executors × 4 cores = 4000)
    *
    * - shuffle.partitions: target ~200 MB per post-shuffle partition
    *   (large enough to amortize task overhead, small enough to never
    *   spill a 4 GB executor core). AQE coalescing treats this as a
    *   ceiling, so oversizing is safe; undersizing is not recoverable.
    * - files.maxPartitionBytes 256 MB: scan tasks sized to one parquet
    *   row-group neighborhood — fewer, fatter tasks than the 128 MB
    *   default, which at 100 TB halves the scheduler pressure
    *   (~400k → ~200k scan tasks).
    * - advisoryPartitionSizeInBytes aligned with the 200 MB target so
    *   AQE coalescing and skew-splitting aim at the same size.
    * - broadcast threshold 64 MB: dimension tables (schools, descriptor
    *   maps, centroid sets) stay broadcast even when wide; anything
    *   bigger genuinely should shuffle.
    */
  /** ~200 MB per post-shuffle partition; floor of two waves per core. */
  val targetPartitionBytes: Long = 200L * 1024 * 1024

  def clusterShufflePartitions(inputTB: Double, executorCores: Int): Int =
    math.max(
      executorCores * 2, // keep every core busy ≥2 waves even for small stages
      (inputTB * 1e12 / targetPartitionBytes).toInt)

  def cluster(b: SparkSession.Builder, inputTB: Double, executorCores: Int): SparkSession.Builder = {
    val shufflePartitions = clusterShufflePartitions(inputTB, executorCores)
    configure(b, shufflePartitions)
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        targetPartitionBytes.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
  }

  /** Local session for tests/bench: one JVM, N threads. */
  def local(cores: Int = defaultParallelism, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
