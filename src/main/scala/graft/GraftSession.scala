package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * Mirrors the observable environment the reference relies on
  * (snappy parquet, string partition values, dynamic partition
  * overwrite — /root/reference/polario/hive_dataset.py:17-22,
  * 412-415) expressed as Spark session configs, plus scale-oriented
  * defaults (AQE, shuffle partitions sized for the local harness).
  */
object GraftSession {

  /** Generated classes Spark's codegen cache holds (Spark's default is
    * 100). A curation pass generates a few hundred, so at the default
    * every pass evicts the classes the next one would reuse and Janino
    * compiles them again; at 1000 a repeated pass compiles nothing
    * (`CodegenCacheSpec`). Layerbench curation on a 4-CPU VM,
    * 4 alternating pairs against the default: second-iteration CPU
    * 5.42 → 4.33 s median. */
  val CodegenCacheEntries: Int = 1000

  /** Apply graft's canonical configs to an existing builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    // Partition directory values read back as strings, matching the
    // reference's Utf8-partition-column contract
    // (hive_dataset.py:366-370; tests/test_hive_dataset.py:102-105).
    .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    // Overwrite only the partitions present in the incoming frame
    // (hive_dataset.py:412-415 deletes just touched partitions).
    .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    .config("spark.sql.parquet.compression.codec", "snappy")
    // Oracle parity: DuckDB reads/writes TIMESTAMP_MICROS; avoid INT96.
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // The driver's events table stores TIMESTAMP(NANOS) parquet, which
    // Spark rejects by default (PARQUET_TYPE_ILLEGAL); read as bigint
    // nanos and derive instants explicitly (see queries.Relational).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Scale defaults: AQE re-plans skewed shuffles and coalesces
    // small partitions at runtime; on a real cluster shuffle
    // partitions would be ~2-3x total cores — here the harness core
    // count.
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Static: read once, when the first generated class is compiled.
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    // parallelismFirst stays at its DEFAULT (true): AQE coalescing
    // sizes partitions by BYTES, and this engine's hot stages are
    // routinely tiny-bytes/heavy-compute (shingle hashing, pair
    // fan-outs, BSP joins) — size-first coalescing serialized them
    // onto one core (measured: q281 2.0 s -> 25 s, q283/q286/q403
    // 3-10x) for no shuffle saving worth having.

  /** Local-mode session for tests and ad-hoc runs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession =
    start(SparkSession.builder()
      .appName("graft")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString),
      cores.toString, "WARN")

  /** The session of the harness mains (`Bench`, `Verify`,
    * `TimeQueries`, `ProfileQuery`, `DumpPlans`): `local[N]` with N =
    * `SPARK_GRAFT_CPUS` (default `defaultCpus`) and N shuffle
    * partitions. Log level ERROR: [[releaseAllBlocks]] after every
    * query emits a benign "cannot be recomputed after unpersisting"
    * WARN per block, hundreds of lines that would push Bench's final
    * JSON line out of the captured output tail. */
  def harness(defaultCpus: Int): SparkSession =
    start(SparkSession.builder(),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString), "ERROR")

  private def start(b: SparkSession.Builder, cores: String,
                    logLevel: String): SparkSession = {
    val spark = configure(b
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.functions.catalyst.GraftFunctions.register(spark)
    spark
  }

  /** Drop every cached frame and every persisted RDD, between the
    * queries of a harness run. Operators may `persist()` or
    * `localCheckpoint()` reused subtrees; `clearCache()` only releases
    * DataFrame cache entries, while localCheckpoint/persist'd RDD
    * blocks live in `getPersistentRDDs` and must be unpersisted
    * explicitly, or across a full sweep they pile up in the
    * BlockManager and GC pressure inflates late heavy queries 4-6x.
    * Blocking: an async unpersist hands the block removal to daemon
    * threads that then compete with the NEXT query's tasks — measured
    * as multi-second inflation of whatever query follows a
    * persist-heavy one (q28_semi_anti 0.4 s -> 4.1 s right after the
    * q279-q287 graph block). */
  def releaseAllBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
