package graft.sources

import org.apache.spark.sql.DataFrame

/** Backend-agnostic partitioned-dataset surface.
  *
  * The observable contract shared by the reference's two backends
  * (/root/reference/polario/hive_dataset.py and delta_dataset.py, both
  * exercised by the same parametrized tests at
  * /root/reference/tests/test_dataset.py:42): overwrite/append writes
  * partitioned by string columns, whole-dataset scan or None when
  * empty, exact-partition read or None when absent.
  */
trait DatasetLike {
  def url: String
  def partitionColumns: Seq[String]

  /** Overwrite. Granularity is backend-defined, mirroring the
    * reference's two backends: [[HiveDataset]] replaces only the
    * partitions present in `df` (untouched partitions survive —
    * hive_dataset.py's delete-matching-dirs pass), while
    * [[ManagedDataset]], a view over one Delta table, replaces the
    * WHOLE table as one snapshot (Delta `mode="overwrite"`). The
    * reference's own partial-rewrite
    * test parametrizes over HiveDataset alone
    * (tests/test_dataset.py: test_write_back_a_partition). */
  def write(df: DataFrame): Unit

  /** Append rows to existing partitions (or create them). */
  def append(df: DataFrame): Unit

  /** Whole-dataset scan; None when the dataset has no data. Lazy —
    * nothing is read until an action runs. */
  def scan(): Option[DataFrame]

  /** Read exactly one partition (keys must equal partitionColumns);
    * None when that partition does not exist. */
  def readPartition(values: Map[String, String]): Option[DataFrame]
}
