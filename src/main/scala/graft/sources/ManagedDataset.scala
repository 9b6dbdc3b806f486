package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StringType

/** The reference's Delta-backed dataset (polario's
  * delta_dataset.py:10-62) as a [[DatasetLike]] view over ONE Delta
  * table: every call forwards to [[DeltaWriter]] / [[DeltaReader]],
  * so atomic versioned commits (0-based), reader isolation, races,
  * CHECK constraints, time travel, merge and restore are the Delta
  * log's own. The view adds only the dataset contract:
  *
  *   - `write` replaces the WHOLE table (Delta `mode="overwrite"`);
  *     `write` and `append` add new columns, old rows null-fill them;
  *   - a missing partition reads as None, decided from the snapshot's
  *     partition values with no IO;
  *   - `statsColumns` name the data columns whose per-file blooms
  *     ([[BloomTags]]) feed [[scanPrunedEquality]], recorded as a
  *     table property by the creating commit. Range pruning needs no
  *     setting: every landed file carries footer min/max stats.
  */
case class ManagedDataset(
    url: String,
    partitionColumns: Seq[String] = Nil,
    statsColumns: Seq[String] = Nil)(implicit spark: SparkSession)
  extends DatasetLike {

  require(statsColumns.forall(c => !partitionColumns.contains(c)),
    "statsColumns must be data columns — partition columns are pruned by path, not stats")

  private val cleanUrl = url.stripSuffix("/")

  override def write(df: DataFrame): Unit = { commit(df, overwrite = true, None); () }
  override def append(df: DataFrame): Unit = { commit(df, overwrite = false, None); () }

  /** Idempotent transactional append — the Delta streaming-sink
    * recipe: commit `df` with the SetTransaction `(appId, batchId)`,
    * and make any batch at or below the app's recorded id a no-op.
    * Structured Streaming's `foreachBatch` redelivers a batch when a
    * query restarts mid-commit; the tag rides the same atomic commit
    * as the data, and a redelivered batch returns before any data
    * lands. Two racing deliveries of one batch land it once. Returns
    * true only when THIS call published the commit. */
  def appendBatch(df: DataFrame, appId: String, batchId: Long): Boolean =
    commit(df, overwrite = false, Some((appId, batchId))).isRight

  /** The newest `batchId` committed for `appId`; None when the app
    * never committed. */
  def lastCommittedBatch(appId: String): Option[Long] =
    DeltaReader.snapshot(cleanUrl).flatMap(_.txns.get(appId))

  private def commit(df: DataFrame, overwrite: Boolean,
                     txn: Option[(String, Long)]): Either[Long, Long] = {
    val cols = df.columns.toSet
    require(partitionColumns.forall(cols.contains),
      s"Partition columns $partitionColumns not found in ${df.columns.toSeq}")
    require((cols -- partitionColumns).nonEmpty,
      "Dataframe only contains partition columns")
    partitionColumns.foreach { c =>
      require(df.schema(c).dataType == StringType,
        s"Partition column '$c' must be a string")
    }
    val creation =
      if (statsColumns.isEmpty) Map.empty[String, String]
      else Map(BloomTags.ColumnsKey -> statsColumns.mkString(","))
    DeltaWriter.writeOutcome(cleanUrl, df, partitionColumns, overwrite, txn,
      mergeSchema = true, creation)
  }

  // ---- CHECK constraints -----------------------------------------

  /** The table's CHECK constraints (name → SQL predicate). */
  def constraints(): Map[String, String] = DeltaReader.snapshot(cleanUrl)
    .toSeq.flatMap(s => DeltaWriter.constraintsIn(s.configuration)).toMap

  /** Register a CHECK constraint ([[DeltaWriter.addConstraint]]): the
    * current rows must pass it, and every later batch that has a row
    * where `predicateSql` is FALSE is rejected whole, before any data
    * lands. NULL passes; conjoin `IS NOT NULL` to forbid nulls. The
    * constraint is table metadata: it survives overwrites. */
  def addConstraint(name: String, predicateSql: String): Unit =
    { DeltaWriter.addConstraint(cleanUrl, name, predicateSql); () }

  /** Remove a CHECK constraint (no-op if absent). */
  def dropConstraint(name: String): Unit =
    { DeltaWriter.dropConstraint(cleanUrl, name); () }

  // ---- reads -----------------------------------------------------

  /** The committed versions still in the log, ascending; empty when
    * the table does not exist. */
  def versions(): Seq[Long] = DeltaReader.commitFiles(cleanUrl)._2.map(_._1)

  /** Scan the latest snapshot, or None when the table has never been
    * committed (delta_dataset.py:56-62). */
  override def scan(): Option[DataFrame] = DeltaReader.scan(cleanUrl)

  /** Time travel: the snapshot exactly as of `version`; raises when
    * that version was never committed. */
  def readVersion(version: Long): DataFrame =
    DeltaReader.scan(cleanUrl, Some(version)).getOrElse(
      throw new IllegalArgumentException(s"version $version: no table at $cleanUrl"))

  /** Range scan with file skipping: exactly
    * `scan().filter(colName BETWEEN lo AND hi)`, reading only files
    * whose recorded bounds may overlap ([[DeltaReader.scanPruned]]). */
  def scanPruned(colName: String, lo: String, hi: String): Option[DataFrame] =
    DeltaReader.scanPruned(cleanUrl, Seq((colName, lo, hi)))

  /** Equality scan with bloom skipping: exactly
    * `scan().filter(colName = value)`, reading only files whose bloom
    * and bounds may hold `value`. `value` may be any spelling that
    * parses as the column's type ("20000" finds the double 20000.0);
    * one that does not parse raises. Building the frame runs no
    * Spark job. */
  def scanPrunedEquality(colName: String, value: String): Option[DataFrame] =
    equality(colName, value).map { case (snap, r) => DeltaReader.scanRanges(snap, r) }

  /** The file count [[scanPrunedEquality]] would read, without IO. */
  def prunedFileCountEquality(colName: String, value: String): Option[Long] =
    equality(colName, value).map { case (snap, r) =>
      DeltaReader.prune(snap, r).files.size.toLong }

  private def equality(colName: String, value: String) =
    DeltaReader.snapshot(cleanUrl).map { snap =>
      val dt = snap.schema.find(_.name == colName).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"scanPrunedEquality: column $colName not in snapshot schema"))
      val probe = BloomTags.canonical(dt, value)
      (snap, Seq((colName, probe, probe)))
    }

  /** Partition-filtered read of the latest snapshot; None when no
    * live file carries the partition (delta_dataset.py:41-54). */
  override def readPartition(values: Map[String, String]): Option[DataFrame] = {
    require(values.keySet == partitionColumns.toSet,
      s"Partition column value keys ${values.keySet} do not match partition columns $partitionColumns")
    DeltaReader.snapshot(cleanUrl).flatMap { snap =>
      val files = snap.files.filter(f => values.forall { case (k, v) =>
        DeltaReader.partitionValueOf(snap, f, k).contains(v) })
      if (files.isEmpty) None
      else Some(DeltaReader.assembleSnapshot(snap.copy(files = files)))
    }
  }

  // ---- DML -------------------------------------------------------

  /** MERGE INTO against the latest snapshot as one commit
    * ([[DeltaWriter.merge]]): a matched target row is replaced by its
    * source row, or dropped when that row satisfies `deleteWhen`;
    * unmatched source rows insert unless they satisfy `deleteWhen`;
    * source keys must be unique. Returns the new version. */
  def merge(source: DataFrame, keyCols: Seq[String],
            deleteWhen: Option[Column] = None): Long =
    DeltaWriter.merge(cleanUrl, source, keyCols, deleteWhen)

  /** Roll the table back to `version` as a NEW commit (RESTORE);
    * history is kept. Returns the new version. */
  def restore(version: Long): Long = DeltaWriter.restore(cleanUrl, version)

  /** Per-version logical row counts from the log's file stats, net of
    * deletion vectors — no data IO unless a file lacks stats. */
  def versionRowCounts(): Seq[(Long, Long)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    versions().map { v =>
      val snap = DeltaReader.snapshotAt(cleanUrl, Some(v)).get
      val counts = snap.files.map(f => f.stats
        .map(s => om.readTree(s).path("numRecords"))
        .filter(_.isIntegralNumber)
        .map(_.asLong - f.deletionVector.map(_.cardinality).getOrElse(0L)))
      v -> (if (counts.forall(_.isDefined)) counts.flatten.sum
            else DeltaReader.assembleSnapshot(snap).count())
    }
  }
}
