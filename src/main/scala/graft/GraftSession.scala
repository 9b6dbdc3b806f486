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
    // parallelismFirst stays at its DEFAULT (true): AQE coalescing
    // sizes partitions by BYTES, and this engine's hot stages are
    // routinely tiny-bytes/heavy-compute (shingle hashing, pair
    // fan-outs, BSP joins) — size-first coalescing serialized them
    // onto one core (measured: q281 2.0 s -> 25 s, q283/q286/q403
    // 3-10x) for no shuffle saving worth having.

  /** Local-mode session for tests and ad-hoc runs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.catalyst.GraftFunctions.register(spark)
    spark
  }
}
