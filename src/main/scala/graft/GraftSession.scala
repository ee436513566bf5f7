package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Sized for local[N] testing but configured the way a 1000-executor
  * cluster job would be: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), UTC session time, broadcast threshold left at
  * default so dimension tables (region/nation/...) broadcast
  * automatically. `spark.sql.shuffle.partitions` matches local cores
  * here; on a real cluster it should be ~2-3x total executor cores and
  * AQE coalescing trims the rest.
  *
  * Spark keeps the classes it generates for whole-stage codegen and
  * expressions in one JVM-wide cache keyed by their source, sized by the
  * static conf `spark.sql.codegen.cache.maxEntries`. Its default of 100
  * is below the working set of even the eight curation queries, so a
  * repeat of a query recompiled tens of classes at ~20 ms each. The
  * full registry at sf0.01 generates 3 056 distinct classes (a Verify
  * run with a 100 000-entry cache, read from the `CodegenMetrics`
  * compile count); [[CodegenCacheEntries]] holds that with headroom, so
  * tests, the benchmark and Verify, which all build from here, compile
  * each class once per JVM.
  */
object GraftSession {
  /** Generated-class cache size: the registry's 3 056 classes plus headroom. */
  val CodegenCacheEntries = 4096

  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Typed Aggregator (Dataset groupByKey.agg) plans as
      // ObjectHashAggregate, whose partial stage falls back to
      // SORT-BASED aggregation after this many distinct keys in the
      // in-memory map — the DEFAULT IS 128, which makes every bounded
      // top-k probe build (n×k score stream into per-vector TopK
      // buffers) SORT its entire generated input: at the 1000x audit
      // corpus that is 2.1e10 rows of sort spill, and the box died of
      // disk before the aggregation even shuffled (round-13, measured).
      // Keys per partial-agg task are bounded by vectors-per-partition
      // (n / partitions), and each TopK buffer is O(k) — 1e6 in-memory
      // entries caps partial-agg memory at ~hundreds of MB per task
      // while keeping the aggregation HASH-based at any corpus this
      // box can hold. On a 1000-executor cluster the same setting
      // holds: keys/task shrink with parallelism.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")

  /** Default local session: cores from SPARK_GRAFT_CPUS (driver contract). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
