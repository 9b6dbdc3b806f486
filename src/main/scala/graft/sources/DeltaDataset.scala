package graft.sources

import graft.util.PathUtils
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta Lake table with the REFERENCE's dataset surface — the write
  * half of the interop story whose read half is [[DeltaReader]]:
  * `append` / `write` (= overwrite) / `read_partition` / `scan`,
  * mirroring `/root/reference/polario/delta_dataset.py:20-62`
  * (which delegates to delta-rs `write_delta`), re-expressed against
  * the PUBLIC `_delta_log` protocol with no delta jars:
  *
  *  - data files land via ONE distributed partitioned parquet write
  *    (partition columns dropped from the files, the Delta layout),
  *    identified by a before/after listing diff of exactly the
  *    touched partition directories — the [[HiveDataset]] fragment
  *    pattern, metadata cost proportional to the write;
  *  - the commit is a JSON line file `_delta_log/<v>.json` published
  *    with the [[LogStores]] first-writer-wins primitive
  *    (POSIX link(2) on `file://`) by [[DeltaWriter.commitLoop]],
  *    the one retry loop of every verb: a lost race re-reads the
  *    head, re-validates, and retries with the SAME already-landed
  *    data files — appends never rewrite data;
  *  - `write` is a LOG-level overwrite: one commit carrying `remove`
  *    actions for every current file plus the new `add`s — old
  *    files stay on disk, so [[DeltaReader.snapshotAt]] time travel
  *    keeps working across overwrites;
  *  - schema changes, column-mapped tables, and un-path-literal
  *    partition values raise loudly (delta-rs raises on the first
  *    two as well; the third is the [[HiveDataset]] contract).
  *
  * Scale shape (100 TB): the data path is a single distributed
  * parquet write; driver work is bounded by touched-partition and
  * new-file COUNTS (the same metadata class every Delta writer
  * plans on the driver), never row count.
  */
final class DeltaDataset(url: String, partitionColumns: Seq[String] = Seq.empty)
                        (implicit spark: SparkSession) {

  private val cleanUrl = url.stripSuffix("/")

  /** Append rows as a new commit (delta_dataset.py:20-21); creates
    * the table when absent, like delta-rs append. `mergeSchema = true`
    * is delta-spark's explicit schema evolution: new columns are ADDED
    * to the table schema in one commit (old files null-fill them at
    * read, old versions keep their shape); type changes still refuse. */
  def append(df: DataFrame, mergeSchema: Boolean = false): Long =
    DeltaWriter.write(cleanUrl, df, partitionColumns, overwrite = false,
      mergeSchema = mergeSchema)

  /** Replace the table contents in one commit
    * (delta_dataset.py:23-24, mode="overwrite"). */
  def write(df: DataFrame, mergeSchema: Boolean = false): Long =
    DeltaWriter.write(cleanUrl, df, partitionColumns, overwrite = true,
      mergeSchema = mergeSchema)

  /** Row-level DELETE via deletion vectors — no data-file rewrite:
    * rows matching `cond` are masked by per-file roaring sidecars
    * (the protocol's `deletionVectors` writer feature, upgraded onto
    * the table in the same commit when absent). Returns the committed
    * version, or the current one when nothing matched. Beyond the
    * reference surface (delta_dataset.py has no delete) — the
    * lakehouse face of the dedup pipeline: kill list in, one
    * metadata-plus-sidecar commit out, time travel intact. */
  def delete(cond: org.apache.spark.sql.Column): Long =
    DeltaWriter.delete(cleanUrl, cond)

  /** MERGE INTO: keyed whole-row upsert with an optional delete
    * clause, one atomic commit, deletion-vector masking on the
    * touched files + new files for the replacement/insert rows —
    * see [[DeltaWriter.merge]]. */
  def merge(source: DataFrame, keyCols: Seq[String],
            deleteWhen: Option[org.apache.spark.sql.Column] = None): Long =
    DeltaWriter.merge(cleanUrl, source, keyCols, deleteWhen)

  /** Row-level UPDATE: `SET col = expr` over rows matching `cond`,
    * copy-on-write with DV reuse — see [[DeltaWriter.update]]. */
  def update(cond: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column]): Long =
    DeltaWriter.update(cleanUrl, cond, set)

  /** Rewrite every data file whose deletion vector masks at least
    * `maskedFractionThreshold` of its rows — the compaction loop that
    * keeps a delete-absorbing table's scan cost from growing without
    * bound. Masked survivors are materialized into fresh files
    * (`dataChange = false`: no new data, streams must not re-see it),
    * the old file + its mask leave the add set, and every pre-rewrite
    * version stays one time-travel hop away (old files and sidecars
    * remain on disk). Returns the committed version, or the current
    * one when no file crosses the threshold. */
  def optimize(maskedFractionThreshold: Double = 0.3): Long =
    DeltaWriter.optimize(cleanUrl, maskedFractionThreshold)

  /** Bin-pack every partition's sub-`targetFileBytes` data files into
    * ~target-sized ones (`dataChange = false` — logically identical
    * table, physically fewer files): the small-file compaction an
    * append-stream table needs so scan cost tracks data volume, not
    * commit count. Returns the committed version, or the current one
    * when no partition holds `minFiles`+ small files. */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024,
              minFiles: Int = 2): Long =
    DeltaWriter.compact(cleanUrl, targetFileBytes, minFiles)

  /** OPTIMIZE ZORDER BY: rewrite the live rows clustered along the
    * Morton curve over `zCols` so file-level min/max stats get tight
    * on EVERY clustered column and range predicates on any of them
    * prune from log metadata — see [[DeltaWriter.zorder]]. */
  def zorder(zCols: Seq[String],
             targetFileBytes: Long = 128L * 1024 * 1024,
             nBuckets: Int = 1024): Long =
    DeltaWriter.zorder(cleanUrl, zCols, targetFileBytes, nBuckets)

  /** OPTIMIZE honoring the table's `delta.clustering` domain (liquid
    * clustering) — see [[DeltaWriter.optimizeClustered]]. */
  def optimizeClustered(targetFileBytes: Long = 128L * 1024 * 1024,
                        nBuckets: Int = 1024): Long =
    DeltaWriter.optimizeClustered(cleanUrl, targetFileBytes, nBuckets)

  /** SHALLOW CLONE this table to `dstUrl`: a new independent table
    * whose v0 references this table's data files by absolute path —
    * zero data copied, one commit written — see
    * [[DeltaWriter.cloneShallow]]. */
  def cloneShallowTo(dstUrl: String, asOfVersion: Option[Long] = None): Long =
    DeltaWriter.cloneShallow(cleanUrl, dstUrl, asOfVersion)

  /** Roll the table back to `version` as a NEW commit (the RESTORE
    * verb): one log-level diff — files live now but not then are
    * removed, files live then but not now (with their deletion
    * vectors as of `version`) are re-added — so the head reads
    * exactly like the target version while every intermediate
    * version stays one time-travel hop away. No data file moves.
    * Returns the committed version (the current one when the head
    * already equals the target). */
  def restore(version: Long): Long = DeltaWriter.restore(cleanUrl, version)

  /** Physically reclaim data files and deletion-vector sidecars no
    * longer referenced by the CURRENT snapshot and older than
    * `retentionMillis` (tombstone age for logged removes, file mtime
    * for never-committed orphans) — the standard Delta VACUUM
    * contract: the log is untouched, the head keeps reading exactly
    * the same rows, and time travel to versions whose files were
    * reclaimed fails at scan time (which is why retention must
    * exceed the oldest snapshot anyone still reads). Returns the
    * number of files deleted. */
  def vacuum(retentionMillis: Long): Int =
    DeltaWriter.vacuum(cleanUrl, retentionMillis)

  /** Reclaim log artifacts the newest checkpoint made redundant (old
    * commits, superseded checkpoints/manifests, unreferenced v2
    * sidecars) older than `retentionMillis` — the metadata half of
    * [[vacuum]]. Returns the number of files deleted. */
  def cleanupLog(retentionMillis: Long = 0L): Int =
    DeltaWriter.cleanupLog(cleanUrl, retentionMillis)

  /** DESCRIBE HISTORY — one row per retained commit, newest first
    * (version, timestamp, recorded operation, action counts); see
    * [[DeltaReader.history]]. */
  def history(): Option[DataFrame] = DeltaReader.history(cleanUrl)

  /** Targeted partition read (delta_dataset.py:41-54). */
  def readPartition(values: Map[String, String]): Option[DataFrame] =
    DeltaReader.readPartition(cleanUrl, values)

  /** Latest-snapshot scan; None when the table does not exist
    * (delta_dataset.py:56-62). */
  def scan(): Option[DataFrame] = DeltaReader.scan(cleanUrl)

  /** Range-predicate scan with stats-based file skipping — exactly
    * `scan().filter(AND of col BETWEEN lo AND hi)`, reading only the
    * files whose recorded bounds may overlap (see
    * [[DeltaReader.scanPruned]]). */
  def scanPruned(ranges: Seq[(String, String, String)]): Option[DataFrame] =
    DeltaReader.scanPruned(cleanUrl, ranges)
}

object DeltaWriter {

  private val CommitRaceLimit = 20

  /** Age past which a log temp (`_tmp-*.json` publish temp,
    * `.tmp-cp-*.parquet` checkpoint temp) is a killed writer's orphan:
    * a live writer's temp exists for the moment between create and
    * publish. */
  private[sources] val TmpRetentionMs = 60L * 60 * 1000

  /** Checkpoint cadence when the table sets no
    * `delta.checkpointInterval` property — the protocol's
    * conventional default. */
  val DefaultCheckpointInterval = 10

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Names + types (nullability and metadata ignored — both engines
    * widen them freely), order-sensitive like delta-rs's default. */
  /** Structural type modulo nullability and field metadata at EVERY
    * level — top-level fields always compared this way, and nested
    * fields must be too: a mapped table's inner fields carry
    * delta.columnMapping metadata (and nullability richer than a
    * freshly-built frame's), neither of which changes what the
    * parquet rows look like. */
  private def normalizeType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      StructField(f.name, normalizeType(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(normalizeType(et), containsNull = true)
    case MapType(k, v, _) =>
      MapType(normalizeType(k), normalizeType(v), valueContainsNull = true)
    case other => other
  }

  private def canonical(st: StructType): Seq[(String, DataType)] =
    st.fields.map(f => f.name -> normalizeType(f.dataType)).toSeq

  /** Per-file statistics JSON for an `add` action — Delta's
    * data-skipping contract (`numRecords` / `minValues` / `maxValues`
    * / `nullCount`), derived from the landed file's PARQUET FOOTER
    * (row-group statistics aggregated across blocks): no data pages
    * are read, the cost is one footer fetch per new file — the same
    * metadata class as the listing diff that found it. Columns whose
    * footer stats are absent/unusable (NaN floats, exotic physical
    * encodings) are simply omitted — readers treat a missing bound as
    * unprunable, so omission is always sound. */
  private def statsJson(fs: FileSystem, p: Path,
                        schema: StructType): Option[String] = try {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // read options over the table's conf: the one-argument `open`
    // builds a fresh Hadoop `Configuration` per file
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, fs.getConf),
      HadoopReadOptions.builder(fs.getConf, p).build())
    val blocks = try {
      import scala.jdk.CollectionConverters._
      reader.getFooter.getBlocks.asScala.toSeq
    } finally reader.close()
    val numRecords = blocks.map(_.getRowCount).sum
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    import scala.jdk.CollectionConverters._
    val colStats: Map[String, Seq[org.apache.parquet.column.statistics.Statistics[_]]] =
      blocks.flatMap(_.getColumns.asScala.map(c =>
        c.getPath.toDotString -> c.getStatistics))
        .filter { case (n, s) => byName.contains(n) && s != null }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("numRecords", numRecords)
    val minN = om.createObjectNode()
    val maxN = om.createObjectNode()
    val nullN = om.createObjectNode()
    colStats.toSeq.sortBy(_._1).foreach { case (name, ss) =>
      nullN.put(name, ss.map(_.getNumNulls).sum)
      // a file bound exists only when EVERY row group recorded one;
      // per-column failures (unexpected physical type) skip just that
      // column's bounds, never the whole file's stats
      if (ss.forall(s => !s.isEmpty && s.hasNonNullValue)) try {
        val mins = ss.map(_.genericGetMin.asInstanceOf[AnyRef])
        val maxs = ss.map(_.genericGetMax.asInstanceOf[AnyRef])
        byName(name) match {
          case ByteType | ShortType | IntegerType =>
            minN.put(name, mins.map(_.asInstanceOf[java.lang.Integer].intValue).min)
            maxN.put(name, maxs.map(_.asInstanceOf[java.lang.Integer].intValue).max)
          case LongType =>
            minN.put(name, mins.map(_.asInstanceOf[java.lang.Long].longValue).min)
            maxN.put(name, maxs.map(_.asInstanceOf[java.lang.Long].longValue).max)
          case FloatType =>
            val (mn, mx) = (mins.map(_.asInstanceOf[java.lang.Float].floatValue).min,
              maxs.map(_.asInstanceOf[java.lang.Float].floatValue).max)
            if (!mn.isNaN && !mx.isNaN) { minN.put(name, mn); maxN.put(name, mx) }
          case DoubleType =>
            val (mn, mx) = (mins.map(_.asInstanceOf[java.lang.Double].doubleValue).min,
              maxs.map(_.asInstanceOf[java.lang.Double].doubleValue).max)
            if (!mn.isNaN && !mx.isNaN) { minN.put(name, mn); maxN.put(name, mx) }
          case BooleanType =>
            minN.put(name, mins.map(_.asInstanceOf[java.lang.Boolean].booleanValue)
              .reduce(_ && _))
            maxN.put(name, maxs.map(_.asInstanceOf[java.lang.Boolean].booleanValue)
              .reduce(_ || _))
          case DateType =>
            minN.put(name, java.time.LocalDate.ofEpochDay(
              mins.map(_.asInstanceOf[java.lang.Integer].intValue).min.toLong).toString)
            maxN.put(name, java.time.LocalDate.ofEpochDay(
              maxs.map(_.asInstanceOf[java.lang.Integer].intValue).max.toLong).toString)
          case StringType =>
            // parquet orders binaries by UTF-8 BYTES; Java Strings by
            // UTF-16 code units. They agree on ASCII — beyond it, skip
            // the bound rather than risk an unsound prune.
            val minS = mins.map(_.asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8)
            val maxS = maxs.map(_.asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8)
            if ((minS ++ maxS).forall(_.forall(_ < 0x80))) {
              minN.put(name, minS.min); maxN.put(name, maxS.max)
            }
          case _ => () // timestamps/decimals/nested: omitted = unprunable
        }
      } catch { case scala.util.control.NonFatal(_) =>
        minN.remove(name); maxN.remove(name); ()
      }
    }
    root.set[com.fasterxml.jackson.databind.node.ObjectNode]("minValues", minN)
    root.set[com.fasterxml.jackson.databind.node.ObjectNode]("maxValues", maxN)
    root.set[com.fasterxml.jackson.databind.node.ObjectNode]("nullCount", nullN)
    Some(om.writeValueAsString(root))
  } catch {
    // stats are an optimization: a file we cannot footer-read still
    // commits (readers keep unprunable files), it just never skips
    case scala.util.control.NonFatal(_) => None
  }

  /** The commit's `commitInfo` line — every commit's FIRST action:
    * wall-clock `timestamp` + the `operation` name (the DESCRIBE
    * HISTORY surface every engine records: WRITE / DELETE / OPTIMIZE
    * / RESTORE), plus `inCommitTimestamp` when the table enables the
    * `inCommitTimestamp` writer feature
    * (`delta.enableInCommitTimestamps = true`): strictly greater than
    * the previous commit's, so the log itself becomes the clock,
    * immune to file-mtime loss on copy/restore. */
  private def ictLines(conf: Map[String, String], fs: FileSystem,
                       logDir: Path, prevVersion: Long,
                       operation: String): Seq[String] = {
    val now = System.currentTimeMillis
    val ict =
      if (!conf.get("delta.enableInCommitTimestamps").contains("true")) ""
      else {
        val prev =
          if (prevVersion < 0) None
          else DeltaWriter.readIct(fs, new Path(logDir, f"$prevVersion%020d.json"))
        s""""inCommitTimestamp":${math.max(now, prev.map(_ + 1L).getOrElse(now))},"""
      }
    Seq(s"""{"commitInfo":{$ict"timestamp":$now,""" +
      s""""operation":"${jsonEscape(operation)}"}}""")
  }

  /** The `inCommitTimestamp` of one commit file, when present. */
  private[sources] def readIct(fs: FileSystem, p: Path): Option[Long] =
    if (!fs.exists(p)) None
    else DeltaReader.commitRecords(fs, fs.getFileStatus(p))
      .flatMap(n => Option(n.path("commitInfo").get("inCommitTimestamp")))
      .headOption.map(_.asLong)

  /** A table's filesystem, qualified root and log directory, plus the
    * log's path encoders — resolved once per verb. */
  private[sources] final class TableRoot(val cleanUrl: String)
                                         (implicit spark: SparkSession) {
    val fs: FileSystem =
      new Path(cleanUrl).getFileSystem(spark.sessionState.newHadoopConf())
    val base: Path = fs.makeQualified(new Path(cleanUrl))
    val logDir = new Path(base, "_delta_log")
    private val basePath = base.toUri.getPath.stripSuffix("/")

    /** Table-relative, RFC-2396-percent-encoded — the form the log
      * stores and [[DeltaReader]] decodes. */
    def rel(p: Path): String = relEncode(basePath, p)

    /** [[rel]] for files under the root; files logged with ABSOLUTE
      * paths outside it (shallow clones, `p`-mode imports) keep their
      * absolute URI, so a remove or re-add matches the logged add. */
    def relOrAbs(p: Path): String =
      if (p.toUri.getPath.startsWith(basePath + "/")) rel(p)
      else p.toUri.toString
  }

  /** The one first-writer-wins commit loop every verb publishes
    * through. Per attempt it reads the head, lets `render` run the
    * verb's race checks against it and render the commit's actions
    * (`None` = nothing to commit: the head's version is returned),
    * prepends the `commitInfo` line, publishes `<head + 1>.json` and
    * checkpoints on the interval. A lost publish re-reads the head and
    * tries again; data files landed before the loop stay valid across
    * attempts, only the log lines are recomputed. Returns the version
    * this call published, or the head's when there was nothing to
    * commit ([[commitOutcome]] tells the two apart). */
  private[sources] def commitLoop(t: TableRoot, verb: String, operation: String)
      (render: Option[DeltaReader.DeltaSnapshot] => Option[Seq[String]])
      (implicit spark: SparkSession): Long =
    commitOutcome(t, verb, operation)(render).merge

  /** [[commitLoop]]: `Right(version)` when this call published it,
    * `Left(head version)` (-1 for no table) when `render` declined. */
  private[sources] def commitOutcome(t: TableRoot, verb: String, operation: String)
      (render: Option[DeltaReader.DeltaSnapshot] => Option[Seq[String]])
      (implicit spark: SparkSession): Either[Long, Long] = {
    var attempt = 0
    while (attempt < CommitRaceLimit) {
      val head = DeltaReader.snapshot(t.cleanUrl)
      val version = head.map(_.version + 1).getOrElse(0L)
      render(head) match {
        case None => return Left(head.map(_.version).getOrElse(-1L))
        case Some(actions) =>
          val ict = ictLines(head.map(_.configuration).getOrElse(Map.empty),
            t.fs, t.logDir, version - 1, operation)
          if (publishCommit(t.fs, t.logDir, version,
              (ict ++ actions).mkString("\n") + "\n")) {
            maybeCheckpoint(t, version)
            return Right(version)
          }
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"DeltaWriter.$verb: lost the commit race $CommitRaceLimit times " +
        s"on ${t.cleanUrl} — giving up")
  }

  /** [[commitLoop]] for verbs that need an existing table. */
  private def commitOnHead(t: TableRoot, verb: String, operation: String)
      (render: DeltaReader.DeltaSnapshot => Option[Seq[String]])
      (implicit spark: SparkSession): Long =
    commitLoop(t, verb, operation)(head => render(head.getOrElse(
      throw new IllegalStateException(
        s"DeltaWriter.$verb: no Delta table at ${t.cleanUrl}"))))

  /** Live files keyed the way scans name them (`_metadata.file_path`). */
  private def byFileKey(files: Seq[DeltaReader.DeltaFile])
      : Map[String, DeltaReader.DeltaFile] =
    files.map(f => new Path(f.path).toUri.toString -> f).toMap

  /** The `remove` action retiring a live file. */
  private def removeLine(t: TableRoot, f: DeltaReader.DeltaFile,
                         dataChange: Boolean): String =
    s"""{"remove":{"path":"${jsonEscape(t.relOrAbs(new Path(f.path)))}",""" +
      s""""deletionTimestamp":${System.currentTimeMillis},""" +
      s""""dataChange":$dataChange}}"""

  /** A log string map (`partitionValues`, `tags`); a null VALUE
    * ({"p":null} = the null partition) is legal and renders as a JSON
    * null. */
  private def stringMapJson(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) =>
      s""""${jsonEscape(k)}":${
        if (v == null) "null" else s""""${jsonEscape(v)}""""}"""
    }.mkString("{", ",", "}")

  private def dvJson(d: DeltaReader.DvDescriptor): String =
    s""","deletionVector":{"storageType":"${jsonEscape(d.storageType)}",""" +
      s""""pathOrInlineDv":"${jsonEscape(d.pathOrInlineDv)}"""" +
      d.offset.map(o => s""","offset":$o""").getOrElse("") +
      s""","sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  /** The `,"tags":{…}` field of an add line; empty when `tags` is. */
  private def tagsJson(tags: Map[String, String]): String =
    if (tags.isEmpty) "" else s""","tags":${stringMapJson(tags)}"""

  /** The `add` action re-stating a live file under `path` with
    * deletion vector `dv`: size, mtime, stats (file content is
    * untouched, and Delta treats a DV'd file's bounds and blooms as
    * sound supersets), tags and its row-id assignment carry through. */
  private def liveAddLine(path: String, f: DeltaReader.DeltaFile,
                          dv: Option[DeltaReader.DvDescriptor]): String =
    s"""{"add":{"path":"${jsonEscape(path)}",""" +
      s""""partitionValues":${stringMapJson(f.partitionValues)},""" +
      s""""size":${f.size},"modificationTime":${f.modificationTime},""" +
      s""""dataChange":true${dv.map(dvJson).getOrElse("")}""" +
      f.stats.map(s => s""","stats":"${jsonEscape(s)}"""").getOrElse("") +
      tagsJson(f.tags) + rowIdCarry(f) + "}}"

  /** Footer stats and `add` lines for freshly landed files; `tags`
    * keyed by `Path.toUri.toString`. */
  private def landedAdds(t: TableRoot, files: Seq[(Seq[(String, String)], Path)],
                         statsSchema: StructType, dataChange: Boolean,
                         tags: Map[String, Map[String, String]] = Map.empty)
      : (Seq[String], Seq[Option[String]]) = {
    val stats = files.map { case (_, p) => statsJson(t.fs, p, statsSchema) }
    (files.zip(stats).map { case ((kvs, p), st) =>
      newFileAddLine(t.fs, p, t.rel(p), kvs, dataChange, st,
        tags.getOrElse(p.toUri.toString, Map.empty)) }, stats)
  }

  /** Record counts of landed files, for row-id stamping. */
  private def recordCounts(files: Seq[(Seq[(String, String)], Path)],
                           stats: Seq[Option[String]])
                          (implicit spark: SparkSession): Seq[Long] =
    files.zip(stats).map { case ((_, p), st) => numRecordsOf(st, p) }

  /** Fresh row ids for new `adds` above `head`'s watermark, and the
    * `delta.rowTracking` domain line advancing it — recomputed per
    * attempt (the watermark and the commit version both move under
    * races). */
  private def stampRowIds(head: DeltaReader.DeltaSnapshot, adds: Seq[String],
                          counts: Seq[Long]): (Seq[String], Seq[String]) = {
    var next = rowIdHighWaterMark(head) + 1
    val stamped = adds.zip(counts).map { case (line, n) =>
      val out = spliceAddFields(line,
        s""","baseRowId":$next,"defaultRowCommitVersion":${head.version + 1}""")
      next += n
      out
    }
    (stamped, Seq(rowTrackingDomainLine(next - 1)))
  }

  /** Land `df` as one Delta commit on `url`; returns the committed
    * version. `overwrite = true` additionally removes every
    * pre-commit file from the log (not from disk).
    *
    * `txn = Some((appId, version))` makes the commit IDEMPOTENT under
    * the protocol's SetTransaction bookkeeping: when the table has
    * already recorded `appId` at a version >= the given one, the
    * write is a no-op returning the current table version — the
    * exactly-once primitive a restarted streaming micro-batch needs
    * (the real-Delta `txnAppId`/`txnVersion` sink option). A batch
    * that loses this race AFTER landing its data files aborts before
    * publishing; the orphaned files are [[vacuum]] fodder, exactly
    * delta's own behavior. */
  def write(url: String, dfIn: DataFrame, partitionColumns: Seq[String],
            overwrite: Boolean, txn: Option[(String, Long)] = None,
            mergeSchema: Boolean = false)
           (implicit spark: SparkSession): Long =
    writeOutcome(url, dfIn, partitionColumns, overwrite, txn, mergeSchema).merge

  /** [[write]], telling `Right(version)` — this call published the
    * commit — from `Left(head version)` — `txn` was already recorded.
    * `creationConf` is the configuration a CREATING commit records
    * (e.g. [[BloomTags.ColumnsKey]]); an existing table keeps its own.
    * Files land with the bloom tags the table's configuration names. */
  private[sources] def writeOutcome(url: String, dfIn: DataFrame,
      partitionColumns: Seq[String], overwrite: Boolean,
      txn: Option[(String, Long)], mergeSchema: Boolean,
      creationConf: Map[String, String] = Map.empty)
     (implicit spark: SparkSession): Either[Long, Long] = {
    val cleanUrl = url.stripSuffix("/")
    val snapGen = DeltaReader.snapshot(cleanUrl)
    // idempotence gate BEFORE any data lands: a replayed batch that
    // is already in the log must not even write files
    txn.foreach { case (app, v) =>
      snapGen.foreach { s =>
        if (s.txns.get(app).exists(_ >= v)) return Left(s.version)
      }
    }
    // GENERATED columns materialize before any shape validation: the
    // common case is a generated PARTITION column (date(ts)-style)
    // the incoming frame legitimately lacks
    val (dfG, computedGen) = applyGeneratedColumns(
      snapGen.map(_.schema).getOrElse(dfIn.schema), dfIn)
    // IDENTITY columns: a missing one is ALLOCATED on the
    // (start, step) lattice above the recorded high watermark —
    // monotonically_increasing_id is gap-prone but gaps are protocol
    // legal; a PROVIDED one needs allowExplicitInsert (GENERATED BY
    // DEFAULT), except at creation where the declaring frame's values
    // are the initial population by definition
    val idSpecs = identitySpecs(snapGen.map(_.schema).getOrElse(dfIn.schema))
    val allocatedIds: Set[String] = idSpecs
      .filterNot(sp => dfG.columns.contains(sp.name)).map(_.name).toSet
    val dfGI = idSpecs.foldLeft(dfG) { (d, sp) =>
      if (d.columns.contains(sp.name)) {
        require(snapGen.isEmpty || sp.allowExplicitInsert,
          s"DeltaWriter: column '${sp.name}' is GENERATED ALWAYS AS " +
            "IDENTITY — it does not accept explicit values " +
            "(delta.identity.allowExplicitInsert = false); omit it")
        d
      } else {
        val base0 = sp.highWaterMark.map(_ + sp.step).getOrElse(sp.start)
        d.withColumn(sp.name, (lit(base0) +
          lit(sp.step) * monotonically_increasing_id()).cast("bigint"))
      }
    }
    // only a frame we synthesized columns onto gets reordered to the
    // table's column order (computed columns append last otherwise);
    // hand-built frames keep the strict order contract
    val df0 = snapGen match {
      case Some(s) if computedGen || allocatedIds.nonEmpty =>
        val tbl = s.schema.fieldNames.filter(dfGI.columns.contains)
        val extra = dfGI.columns.filterNot(tbl.contains)
        dfGI.select((tbl ++ extra).map(col).toSeq: _*)
      case _ => dfGI
    }
    // allocated identity values ride monotonically_increasing_id —
    // nondeterministic ACROSS JOBS. enforceCheckConstraints, the
    // retry loop's re-enforcement of CONCURRENTLY ADDED constraints,
    // and landFiles each run their own job, so any enforced predicate
    // over an allocated column would otherwise be validated against
    // different values than the ones landed. The pin is unconditional
    // on allocation: a predicate-conditional pin cannot see the
    // constraint a concurrent ALTER adds after this decision.
    val df = if (allocatedIds.isEmpty) df0 else df0.localCheckpoint()
    // the reference's column validation, verbatim semantics
    // (delta_dataset.py:29-35)
    require(partitionColumns.forall(df.columns.contains) &&
      df.columns.length > partitionColumns.length,
      s"Dataframe should have more columns, require at least " +
        s"$partitionColumns, got ${df.columns.toSeq}")

    val t = new TableRoot(cleanUrl)

    def validateAgainst(snap: DeltaReader.DeltaSnapshot): Unit = {
      enforceWritable(snap, "write")
        require(snap.partitionColumns == partitionColumns,
        s"DeltaWriter: table is partitioned by ${snap.partitionColumns}, " +
          s"write requested $partitionColumns")
      if (!mergeSchema)
        require(canonical(snap.schema) == canonical(df.schema),
          s"DeltaWriter: schema mismatch — table has ${snap.schema.simpleString}, " +
            s"dataframe has ${df.schema.simpleString} (pass mergeSchema = true " +
            "to ADD columns; this writer refuses silent schema changes)")
      else {
        // explicit evolution may only ADD columns — a changed type on
        // a shared column would silently corrupt every old file's read
        val tbl = snap.schema.fields.map(f => f.name -> f.dataType).toMap
        df.schema.fields.foreach { f =>
          tbl.get(f.name).foreach(t => require(
            normalizeType(t) == normalizeType(f.dataType),
            s"DeltaWriter: mergeSchema cannot change column '${f.name}' " +
              s"from ${t.simpleString} to ${f.dataType.simpleString}"))
        }
      }
      // an append-only table never loses rows; overwrite removes all
      require(!(overwrite &&
        snap.configuration.get("delta.appendOnly").contains("true")),
        s"DeltaWriter: table at $cleanUrl is append-only " +
          "(delta.appendOnly=true) — overwrite refused")
    }
    val snap0 = snapGen
    snap0.foreach(validateAgainst)
    snap0.foreach(s => enforceCheckConstraints(s, df))
    // the CREATING write enforces the invariants its own schema
    // declares — a v0 that already violates them would poison the
    // induction every later rewrite relies on
    if (snap0.isEmpty) enforceRowPredicates(invariantsOf(df.schema), df)
    // constraints enforced so far — the retry loop re-runs the
    // distributed pass only when a concurrent commit CHANGED the set
    var enforced: Seq[(String, String)] =
      snap0.map(checkConstraintsOf).getOrElse(Seq.empty)

    // mergeSchema on a COLUMN-MAPPED table: each new column — and,
    // recursively, every nested struct field it carries — is
    // allocated a fresh physical name (col-<uuid>, the delta-spark
    // convention) and a column-mapping id above the table's
    // delta.columnMapping.maxColumnId — BEFORE files land, so the
    // parquet on disk carries the physical names (at EVERY level; the
    // same positional struct cast the nested-field write path uses)
    // that the evolved metaData will declare.
    val mappedAllocBase: Long = snapGen.map(maxColumnIdOf).getOrElse(0L)
    // name → the fully STAMPED field (delta.columnMapping.id +
    // physicalName on the field and all nested struct fields), plus
    // the total id count allocated (advances maxColumnId)
    val (mappedAlloc: Map[String, StructField], mappedAllocCount: Long) =
      (snapGen, mergeSchema) match {
        case (Some(s), true) if s.physicalSchema.nonEmpty =>
          val existing = s.schema.fieldNames.toSet
          val extras = df.schema.fields.filterNot(f => existing(f.name)).toSeq
          var nextId = mappedAllocBase
          val stamped = extras.map { f =>
            f.name -> stampMappedField(f, () => { nextId += 1; nextId })
          }.toMap
          (stamped, nextId - mappedAllocBase)
        case _ => (Map.empty[String, StructField], 0L)
      }
    def stampedPhysName(sf: StructField): String =
      sf.metadata.getString("delta.columnMapping.physicalName")
    val physW = snapGen.map(physColumnsFor(_, "write")).getOrElse(Map.empty) ++
      mappedAlloc.map { case (n, sf) => n -> ((stampedPhysName(sf),
        Some(sf.metadata.getLong("delta.columnMapping.id")))) }
    // the nested stamped extras land under their PHYSICAL inner names
    // (and, in id mode, with parquet.field.id on every level): the
    // land-time cast target is the stamped field's physical type —
    // derived by the same physicalSchemaFor the reader uses, so write
    // and read shapes cannot diverge
    val allocPhysTypes: Map[String, DataType] = {
      val nested = mappedAlloc.toSeq.filter(kv => isNestedType(kv._2.dataType))
      if (nested.isEmpty) Map.empty
      else DeltaReader.physicalSchemaFor(
        StructType(nested.map(_._2)), snapGen.get.configuration) match {
        case None => Map.empty
        case Some(ps) => nested.map(_._1).zip(ps.fields.map(_.dataType)).toMap
      }
    }
    // evolution-allocated mapped columns join the stats schema under
    // their PHYSICAL names, so the very files that introduce a column
    // carry its min/max/nullCount (data skipping live from commit
    // one); nested extras contribute nothing (statsJson matches
    // top-level leaf paths) and are skipped
    val statsSchema = snapGen.flatMap(_.physicalSchema) match {
      case None => df.schema
      case Some(ps) => StructType(ps.fields ++
        mappedAlloc.toSeq
          .filterNot(kv => isNestedType(kv._2.dataType))
          .sortBy(_._2.metadata.getLong("delta.columnMapping.id"))
          .map { case (n, sf) =>
            StructField(stampedPhysName(sf), sf.dataType, sf.nullable) })
    }
    val newFiles = landFiles(t.fs, t.base, cleanUrl, df,
      partitionColumns, physW,
      snapGen.map(physTypesFor).getOrElse(Map.empty) ++ allocPhysTypes)
    val bloomTags = BloomTags.tagsFor(newFiles.map(_._2),
      BloomTags.columnsOf(snapGen.map(_.configuration).getOrElse(creationConf))
        .flatMap(c => df.schema.find(_.name == c)).map(f =>
          (f.name, physW.get(f.name).map(_._1).getOrElse(f.name), f.dataType)))
    val (adds, fileStats) =
      landedAdds(t, newFiles, statsSchema, dataChange = true, bloomTags)
    // row-tracking stamping input, resolved once (not per retry)
    lazy val writeRecCounts: Seq[Long] = recordCounts(newFiles, fileStats)

    // identity high-watermark bookkeeping: the landed files' footer
    // stats (already computed for the adds) give each column's
    // extreme in step direction with zero extra jobs; a stats-less
    // file falls back to ONE distributed agg over the landed paths —
    // the files on disk, not the (possibly nondeterministic) input
    val idObserved: Map[String, Long] = idSpecs.flatMap { sp =>
      if (newFiles.isEmpty) None
      else {
        // landed files store PHYSICAL names under column mapping
        val statKey = physW.get(sp.name).map(_._1).getOrElse(sp.name)
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val section = if (sp.step > 0) "maxValues" else "minValues"
        val perFile: Seq[Option[Long]] = fileStats.map(_.flatMap { s =>
          scala.util.Try(om.readTree(s)).toOption
            .flatMap(n => Option(n.get(section)))
            .flatMap(n => Option(n.get(statKey)))
            .filter(_.isIntegralNumber).map(_.asLong)
        })
        val observed: Option[Long] =
          if (perFile.forall(_.isDefined))
            Some(if (sp.step > 0) perFile.flatten.max
                 else perFile.flatten.min)
          else {
            val r = spark.read.parquet(newFiles.map(_._2.toString): _*)
              .agg(if (sp.step > 0) max(col(statKey))
                   else min(col(statKey))).head()
            if (r.isNullAt(0)) None else Some(r.getLong(0))
          }
        observed.map(sp.name -> _)
      }
    }.toMap

    def metaLines: Seq[String] = Seq(
      // generated / identity columns demand legacy writer versions 4
      // / 6 (PROTOCOL.md legacy mapping) so a foreign writer that
      // cannot compute the derivations refuses instead of corrupting
      // them
      if (idSpecs.nonEmpty)
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}"""
      else if (generationExprs(df.schema).nonEmpty)
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}"""
      else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaDataLine(java.util.UUID.randomUUID.toString,
        stampHighWaterMarks(df.schema,
          idObserved.filter { case (n, _) =>
            idSpecs.exists(_.name == n) }.map { case (n, obs) =>
            val sp = idSpecs.find(_.name == n).get
            n -> sp.highWaterMark.fold(obs)(h =>
              if (sp.step > 0) math.max(h, obs) else math.min(h, obs))
          }),
        partitionColumns, creationConf, System.currentTimeMillis))

    // the commit body against one head: the landed files stay valid,
    // only these lines are recomputed per attempt
    def actions(snap: Option[DeltaReader.DeltaSnapshot]): Seq[String] = {
      val txnLine = txn.map { case (app, v) =>
        s"""{"txn":{"appId":"${jsonEscape(app)}","version":$v,""" +
          s""""lastUpdated":${System.currentTimeMillis}}}"""
      }.toSeq
      val removes =
        if (!overwrite) Seq.empty
        else snap.toSeq.flatMap(_.files).map(removeLine(t, _, dataChange = true))
      val head = if (snap.isEmpty) metaLines else Seq.empty
      // columns we ALLOCATED identity values for: the watermark we
      // allocated FROM must still be the head's, or a concurrent
      // allocator handed out the same range — first writer wins, we
      // raise and the caller re-runs against the advanced watermark
      snap.foreach { s =>
        val headSpecs = identitySpecs(s.schema)
        idSpecs.filter(sp => allocatedIds(sp.name)).foreach { sp =>
          require(headSpecs.find(_.name == sp.name)
            .exists(_.highWaterMark == sp.highWaterMark),
            s"DeltaWriter: concurrent IDENTITY allocation on " +
              s"'${sp.name}' — the high watermark moved while this " +
              "write was in flight; re-run to allocate past it")
        }
      }
      // explicit evolution: the commit carries a new metaData with the
      // MERGED schema (table fields in their order + the new ones),
      // same table id/partitioning/configuration — old files null-fill
      // the added columns at read, every old version keeps its shape.
      // Identity high watermarks stamp onto the SAME metaData action
      // (one metaData per commit).
      val evolution: Seq[String] = snap match {
        case Some(s) =>
          val existing = s.schema.fieldNames.toSet
          val extra =
            if (!mergeSchema) Array.empty[StructField]
            else df.schema.fields.filterNot(f => existing(f.name))
          // a generated column cannot ARRIVE by evolution: old files
          // null-fill added columns at read, which would contradict
          // the derivation on every pre-evolution row
          extra.foreach(f =>
            require(!f.metadata.contains("delta.generationExpression"),
              s"DeltaWriter: mergeSchema cannot add GENERATED column " +
                s"'${f.name}' — existing rows would null-fill it in " +
                "violation of its generation expression"))
          // evolution on a MAPPED table: stamp each added field with
          // the physical name/id allocated before files landed, and
          // advance delta.columnMapping.maxColumnId in the SAME
          // metaData. Ids were allocated against the pre-land head —
          // if a concurrent writer advanced maxColumnId since, our
          // ids may collide with its: first writer wins, re-run.
          // the guards run whenever WE allocated, not only when the
          // head still lacks the columns: a concurrent writer adding
          // the SAME column would otherwise slip through with ITS
          // physical name in the schema while our landed files store
          // OURS — every row we wrote would silently read NULL
          if (mappedAlloc.nonEmpty) {
            require(maxColumnIdOf(s) == mappedAllocBase,
              "DeltaWriter: concurrent column-mapping allocation — " +
                "delta.columnMapping.maxColumnId moved while this " +
                "write was in flight; re-run to allocate past it")
            require(mappedAlloc.keySet.forall(n =>
                extra.exists(_.name == n)),
              "DeltaWriter: a concurrent commit added the same " +
                "column(s) this write was evolving — the landed files " +
                "carry a different physical name; re-run the write")
          }
          if (extra.nonEmpty && s.physicalSchema.nonEmpty)
            require(extra.forall(f => mappedAlloc.contains(f.name)),
              "DeltaWriter: evolution columns changed between landing " +
                "files and committing — re-run the write")
          // the pre-land stamping (ids + physical names at every
          // nesting level) IS the schema the commit declares —
          // relaxed to NULLABLE at every level: every pre-evolution
          // row null-fills an added column, so a non-nullable
          // evolved field would be a lie the reader's
          // physical→logical struct cast also chokes on
          val stampedExtra = extra.map(f =>
            relaxNullability(mappedAlloc.getOrElse(f.name, f)))
          val evolvedConf =
            if (extra.isEmpty || mappedAlloc.isEmpty) s.configuration
            else s.configuration + ("delta.columnMapping.maxColumnId" ->
              (mappedAllocBase + mappedAllocCount).toString)
          val evolved =
            if (extra.isEmpty) None
            else Some(StructType(s.schema.fields ++ stampedExtra))
          (evolved, hwmMetaLine(s, idObserved)) match {
            case (None, None) => Seq.empty
            case (None, Some(line)) => Seq(line)
            case (Some(sc), _) =>
              val headSpecs = identitySpecs(s.schema)
              val advanced = idObserved.flatMap { case (n, obs) =>
                headSpecs.find(_.name == n).map { sp =>
                  n -> sp.highWaterMark.fold(obs)(h =>
                    if (sp.step > 0) math.max(h, obs) else math.min(h, obs))
                }
              }
              Seq(metaDataLine(s.tableId,
                stampHighWaterMarks(sc, advanced), partitionColumns,
                evolvedConf,
                s.createdTime.getOrElse(System.currentTimeMillis)))
          }
        case _ => Seq.empty
      }
      // row tracking: stamp fresh base row ids above the HEAD's high
      // watermark and advance the delta.rowTracking domain in the
      // same commit
      val (adds2, rtDomain) = snap.filter(rowTrackingOn) match {
        case None => (adds, Seq.empty[String])
        case Some(s) => stampRowIds(s, adds, writeRecCounts)
      }
      head ++ evolution ++ txnLine ++ removes ++ adds2 ++ rtDomain
    }

    commitOutcome(t, "write", "WRITE") { snap =>
      snap.foreach(validateAgainst)
      // a constraint added concurrently between the first snapshot and
      // publish must not be committed violated: re-enforce on change
      snap.map(checkConstraintsOf).filter(_ != enforced).foreach { _ =>
        snap.foreach(s => enforceCheckConstraints(s, df))
        enforced = snap.map(checkConstraintsOf).get
      }
      // a racing writer may have published OUR transaction id while
      // we were landing files — abort unpublished (orphans vacuum)
      if (txn.exists { case (app, v) =>
            snap.exists(_.txns.get(app).exists(_ >= v)) }) None
      else Some(actions(snap))
    }
  }

  /** Mask every row matching `cond` behind per-file deletion-vector
    * sidecars and commit the re-adds — the protocol's row-level
    * DELETE without rewriting a single data file:
    *
    *  1. scan the CURRENT snapshot with row provenance
    *     (`_metadata.file_path` / `row_index`, existing DVs already
    *     applied, partition values attached so `cond` may reference
    *     partition columns), skipping the files `cond`'s partition
    *     conjuncts rule out ([[DeltaReader.prunePartitions]]);
    *  2. in the same action, group the matches per touched file: the
    *     file's task decodes its old mask from the snapshot's
    *     descriptor, unions it with the new matches and serializes ONE
    *     roaring sidecar ON AN EXECUTOR (`deletion_vector_<uuid>.bin`,
    *     storage type `u`) — the driver never holds a bitmap, and
    *     per-task memory is bounded by one file's deleted-row count
    *     (the same bound every DV writer carries);
    *  3. one commit: a protocol upgrade to reader 3 / writer 7 with
    *     the `deletionVectors` feature when the table lacks it, then
    *     remove+re-add of each touched file with its new descriptor
    *     (same version — [[DeltaReader]] resolves the tie to the add).
    *
    * Steps 1-3 are [[copyOnWriteCommit]] with no inserts, published
    * through [[commitLoop]]; its race checks apply. The scan runs
    * once. No match = no commit. */
  def delete(url: String, cond: org.apache.spark.sql.Column)
            (implicit spark: SparkSession): Long = {
    import org.apache.spark.sql.functions.col
    val cleanUrl = url.stripSuffix("/")
    val snap = DeltaReader.snapshot(cleanUrl).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaWriter.delete: no Delta table at $cleanUrl"))
    enforceWritable(snap, "delete")
    // real Delta refuses DELETE on append-only tables — other writers
    // and consumers rely on the table never losing rows
    require(!snap.configuration.get("delta.appendOnly").contains("true"),
      s"DeltaWriter.delete: table at $cleanUrl is append-only " +
        "(delta.appendOnly=true) — DELETE refused")
    // with the change feed on, the matched rows feed BOTH the mask
    // and the cdc files: pin them so the two cannot diverge
    val cdfOn =
      snap.configuration.get("delta.enableChangeDataFeed").contains("true")
    val matchedRows0 =
      DeltaReader.scanWithRowIndex(DeltaReader.prunePartitions(snap, cond)).where(cond)
    val matchedRows =
      if (cdfOn) matchedRows0.localCheckpoint(eager = false) else matchedRows0
    copyOnWriteCommit(cleanUrl, snap, matchedRows.select(col("__fp"), col("__ri")),
      None, "DELETE", cdcChanges =
        if (!cdfOn) None
        else Some(matchedRows.drop("__fp", "__ri")
          .withColumn("_change_type", lit("delete"))))
  }

  /** MERGE INTO on a real `_delta_log` table — keyed whole-row
    * upsert with an optional delete clause, the verb every CDC-ingest
    * pipeline needs (whole-row update, delete, loud duplicate-source
    * guard; [[ManagedDataset.merge]] forwards here; reference scope
    * stops at write/append, delta_dataset.py:20-39, so this is
    * north-star surface):
    *
    *  - a target row whose key matches a source row is REPLACED by it
    *    (whole-row), or DROPPED when that source row satisfies
    *    `deleteWhen`;
    *  - a source row with no target match INSERTS (unless it
    *    satisfies `deleteWhen` — deleting an absent key is a no-op);
    *  - unmatched target rows are untouched — and, unlike a
    *    read-rewrite merge, their FILES are untouched too: matched
    *    rows are masked behind deletion-vector sidecars (the same
    *    machinery as [[delete]]) while replacement + insert rows land
    *    as new files, so the write cost is O(changed rows), never
    *    O(table).
    *
    * One atomic commit (operation MERGE): protocol upgrade when the
    * table lacks the `deletionVectors` feature, remove + DV re-add
    * per touched file, plain adds for the new files. The change feed
    * reads it as deletes of the old row images plus inserts of the
    * new ones — exactly a merge's CDC shape.
    *
    * Published by [[copyOnWriteCommit]] through [[commitLoop]], whose
    * race checks apply; orphans of an aborted attempt are [[vacuum]]
    * fodder. Returns the committed version, or the current one when
    * the merge is a no-op.
    *
    * Scale shape (100 TB): one pre-pass over the pinned source (row
    * count, duplicate guard, key widths, identity extremes), then one
    * key-keyed semi-join — source keys BROADCAST when the estimated
    * key bytes fit under spark.sql.autoBroadcastJoinThreshold (the
    * CDC-slice regime), plain shuffled equi-join above it (the
    * multi-GB backfill regime; never cartesian either way) — per-file
    * sidecars serialized ON EXECUTORS, driver work bounded by
    * touched-file count. */
  def merge(url: String, source: DataFrame, keyCols: Seq[String],
            deleteWhen: Option[org.apache.spark.sql.Column] = None)
           (implicit spark: SparkSession): Long = {
    require(keyCols.nonEmpty, "DeltaWriter.merge: need >= 1 key column")
    val cleanUrl = url.stripSuffix("/")
    val snap = DeltaReader.snapshot(cleanUrl).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaWriter.merge: no Delta table at $cleanUrl"))
    enforceWritable(snap, "merge")
    require(!snap.configuration.get("delta.appendOnly").contains("true"),
      s"DeltaWriter.merge: table at $cleanUrl is append-only " +
        "(delta.appendOnly=true) — MERGE rewrites rows, refused")
    // whole-row merge SUPPLIES every column, so an identity column is
    // an explicit insert: GENERATED ALWAYS refuses, BY DEFAULT passes
    // (and the commit advances the high watermark below)
    val mergeIdSpecs = identitySpecs(snap.schema)
    mergeIdSpecs.foreach { sp =>
      require(sp.allowExplicitInsert,
        s"DeltaWriter.merge: column '${sp.name}' is GENERATED ALWAYS AS " +
          "IDENTITY — whole-row merge supplies explicit values, which " +
          "the column forbids (delta.identity.allowExplicitInsert = false)")
    }
    // GENERATED columns the source legitimately lacks are computed
    // (and provided ones validated) before the whole-row shape check
    val (sourceG, _) = applyGeneratedColumns(snap.schema, source)
    // whole-row semantics: the source must carry exactly the table's
    // columns (any order), each with the table's type
    val tblTypes = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    require(sourceG.columns.toSet == tblTypes.keySet,
      s"DeltaWriter.merge: whole-row merge needs the table's columns " +
        s"${snap.schema.fieldNames.toSeq}, source has ${source.columns.toSeq}")
    sourceG.schema.fields.foreach(f => require(
      normalizeType(tblTypes(f.name)) == normalizeType(f.dataType),
      s"DeltaWriter.merge: column '${f.name}' is ${tblTypes(f.name)
        .simpleString} in the table, ${f.dataType.simpleString} in the source"))
    keyCols.foreach(k => require(tblTypes.contains(k),
      s"DeltaWriter.merge: key column '$k' not in the table schema"))
    // pin the source: it feeds the pre-pass, the mask semi-join AND
    // the insert write — a nondeterministic source must not produce
    // three different slices. The checkpoint is lazy: the pre-pass is
    // its first reader and materializes it.
    val src = sourceG.select(snap.schema.fieldNames.map(col).toSeq: _*)
      .localCheckpoint(eager = false)
    // ONE pass over the pinned source yields all the driver plans
    // with: the row count; the most repeated key, for the duplicate
    // guard; the measured widths of the variable-width key columns
    // (string/binary — DataType.defaultSize is a 20-byte constant for
    // strings, and a 200-byte URL key would defeat the broadcast gate
    // 8x over); and the explicit identity extremes the commit must
    // advance the high watermark past. Per key in Spark, then folded
    // per partition and merged on the driver, so the global step
    // needs no second exchange.
    val (varKeys, fixedKeys) = keyCols.partition(k => tblTypes(k) match {
      case StringType | BinaryType => true
      case _ => false
    })
    val steps = mergeIdSpecs.map(_.step).toVector
    val perKey = src.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), mergeIdSpecs.zipWithIndex.map { case (sp, i) =>
        (if (sp.step > 0) max(col(sp.name)) else min(col(sp.name))).as(s"__id$i")
      }: _*)
      .select((struct(keyCols.map(col): _*) +: col("__n") +:
        (varKeys.map(k => octet_length(col(k)).cast(LongType)) ++
          steps.indices.map(i => col(s"__id$i")))): _*)
    val nVar = varKeys.length
    val pre = perKey.rdd.map(SourceStats.of(_, nVar, steps.length))
      .fold(SourceStats.zero(nVar, steps.length))(_.merge(_, steps))
    require(pre.topRows <= 1,
      s"DeltaWriter.merge: source has duplicate keys (e.g. " +
        keyCols.zipWithIndex.map { case (k, i) => s"$k=${pre.topKey.get(i)}" }
          .mkString(", ") +
        s" on ${pre.topRows} rows) — a key must resolve to one source row")
    // per variable-width key: its average octet length over non-null rows
    val varBytes: Long = math.ceil(pre.varBytes.zip(pre.varRows).map {
      case (b, n) => if (n == 0) 0.0 else b.toDouble / n }.sum).toLong
    val idObserved: Map[String, Long] = mergeIdSpecs.zip(pre.ids).collect {
      case (sp, Some(v)) => sp.name -> v }.toMap
    // Size-gated broadcast of the source keys: the checkpointed
    // source has no catalog stats, so an unhinted plan risks a
    // cartesian — but a FORCED broadcast OOMs the exchange on a
    // multi-GB backfill source. Estimate the key projection's bytes
    // from the source row count and broadcast only under
    // spark.sql.autoBroadcastJoinThreshold; above it the mask and CDC
    // joins run as plain key equi-joins (shuffled hash / sort-merge
    // under AQE — still never cartesian, they are equi-joins on the
    // key columns).
    val keyRowBytes = varBytes +
      fixedKeys.map(k => tblTypes(k).defaultSize.toLong).sum +
      keyCols.length * 8L + 16L
    val bcThreshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val smallSource = bcThreshold > 0 && pre.rows * keyRowBytes <= bcThreshold
    def hinted(keys: DataFrame): DataFrame =
      if (smallSource) broadcast(keys) else keys
    val inserts = deleteWhen.map(c => src.filter(!c)).getOrElse(src)
    enforceCheckConstraints(snap, inserts)

    // target rows whose key appears in the source: masked out
    // (replaced or deleted); DVs already applied by the scan. With
    // the change feed on they also feed the cdc preimages — pinned so
    // mask and feed cannot diverge.
    val cdfOn =
      snap.configuration.get("delta.enableChangeDataFeed").contains("true")
    // row-tracking-ENABLED tables: the scan also resolves each
    // matched row's _row_id/_row_commit_version, so the replacement
    // images can preserve them via the materialized columns —
    // UPDATE-shaped merges must not reassign row identity
    val rtm = rewriteRowTracking(snap)
    val scanBase =
      if (rtm.isDefined) DeltaReader.scanWithRowIndexAndIds(snap)
      else DeltaReader.scanWithRowIndex(snap)
    val matchedFull0 = scanBase
      .join(hinted(src.select(keyCols.map(col): _*)), keyCols, "left_semi")
    val matchedFull =
      if (cdfOn) matchedFull0.localCheckpoint(eager = false) else matchedFull0
    val matched = matchedFull.select(col("__fp"), col("__ri"))
    // precise CDF types, the shapes delta-spark's own MERGE records:
    // matched + delete clause -> delete; matched + replaced ->
    // update_preimage/update_postimage; unmatched source -> insert
    val cdc: Option[DataFrame] =
      if (!cdfOn) None
      else {
        val dataCols = snap.schema.fieldNames.map(col).toSeq
        val keys = keyCols.map(col)
        val matchedData = matchedFull.select(dataCols: _*)
        // delete set = src MINUS the insert set, so a NULL deleteWhen
        // verdict (excluded from inserts, hence deleted) is a
        // 'delete' in the feed too — never filter(c) directly, the
        // three-valued logic would tag those rows update_preimage
        // with no postimage
        val delKeys = src.join(inserts.select(keys: _*), keyCols,
          "left_anti").select(keys: _*)
        val matchedKeys = matchedFull.select(keys: _*).distinct()
        Some(Seq(
          matchedData.join(hinted(delKeys), keyCols, "left_semi")
            .withColumn("_change_type", lit("delete")),
          matchedData.join(hinted(delKeys), keyCols, "left_anti")
            .withColumn("_change_type", lit("update_preimage")),
          inserts.join(hinted(matchedKeys), keyCols, "left_semi")
            .withColumn("_change_type", lit("update_postimage")),
          inserts.join(hinted(matchedKeys), keyCols, "left_anti")
            .withColumn("_change_type", lit("insert"))
        ).reduce(_ unionByName _))
      }
    // preserve row identity on UPDATE-shaped rows: each insert joins
    // (left) the matched target's id by key into the materialized
    // columns — true inserts stay NULL there and read fresh ids from
    // the new file's baseRowId. min() per key is the deterministic
    // pick when the target carried duplicate keys.
    val insertsOut = rtm match {
      case None => inserts
      case Some((mi, mr, _)) =>
        // carry ONLY the row id — a MERGE-updated row is a MODIFIED
        // row, so per the row-tracking protocol its commit version is
        // this commit: the materialized version column stays NULL and
        // the reader's coalesce resolves it to the new add's
        // defaultRowCommitVersion. NULL-id rows (pre-tracking files,
        // the mixed-history contract) are excluded FIRST; min() per
        // key is the deterministic pick under duplicate target keys.
        val oldIds = matchedFull.where(col("_row_id").isNotNull)
          .groupBy(keyCols.map(col): _*)
          .agg(org.apache.spark.sql.functions.min(col("_row_id"))
            .as("__mid"))
          .select((keyCols.map(col) :+ col("__mid").as(mi) :+
            lit(null).cast("bigint").as(mr)): _*)
        inserts.join(hinted(oldIds), keyCols, "left")
    }
    copyOnWriteCommit(cleanUrl, snap, matched, Some(insertsOut), "MERGE",
      idObserved, cdc, rtm)
  }

  /** [[merge]]'s source pre-pass totals: the row count, the most
    * repeated key and its row count, per variable-width key column its
    * summed octet length and non-null row count, and per identity
    * column its extreme in step direction. */
  private final case class SourceStats(rows: Long, topRows: Long,
      topKey: org.apache.spark.sql.Row, varBytes: Vector[Long],
      varRows: Vector[Long], ids: Vector[Option[Long]]) {
    def merge(o: SourceStats, steps: Vector[Long]): SourceStats = SourceStats(
      rows + o.rows,
      math.max(topRows, o.topRows),
      if (o.topRows > topRows) o.topKey else topKey,
      varBytes.zip(o.varBytes).map { case (a, b) => a + b },
      varRows.zip(o.varRows).map { case (a, b) => a + b },
      ids.zip(o.ids).zip(steps).map { case ((a, b), st) =>
        (a ++ b).reduceOption((x, y) => if (st > 0) math.max(x, y) else math.min(x, y)) })
  }

  private object SourceStats {
    def zero(nVar: Int, nIds: Int): SourceStats = SourceStats(0L, 0L, null,
      Vector.fill(nVar)(0L), Vector.fill(nVar)(0L), Vector.fill(nIds)(None))

    /** One per-key row: (key struct, rows, octet lengths…, extremes…). */
    def of(r: org.apache.spark.sql.Row, nVar: Int, nIds: Int): SourceStats = {
      val n = r.getLong(1)
      val lens = (0 until nVar).map(j => Option(r.get(2 + j)).map(_.asInstanceOf[Long]))
      SourceStats(n, n, r.getStruct(0), lens.map(_.fold(0L)(_ * n)).toVector,
        lens.map(_.fold(0L)(_ => n)).toVector,
        (0 until nIds).map(i => Option(r.get(2 + nVar + i)).map(_.asInstanceOf[Long])).toVector)
    }
  }

  /** Row-level UPDATE — `SET col = expr, ...` over every row matching
    * `cond`, copy-on-write with DV reuse: matched rows are masked
    * behind deletion-vector sidecars on their ORIGINAL files (no
    * unmatched row is rewritten) and their updated images land as new
    * files in the same atomic commit (operation UPDATE). Assignments
    * are cast to the column's table type (standard UPDATE coercion);
    * updating a partition column is allowed — the rewritten rows
    * simply land in their new partition directories. Returns the
    * committed version, or the current one when nothing matched.
    * Cost shape and the change-feed reading (delete-old + insert-new)
    * are [[merge]]'s; the commit is [[copyOnWriteCommit]]'s. */
  def update(url: String, cond: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column])
            (implicit spark: SparkSession): Long = {
    import org.apache.spark.sql.functions.col
    require(set.nonEmpty, "DeltaWriter.update: need >= 1 assignment")
    val cleanUrl = url.stripSuffix("/")
    val snap = DeltaReader.snapshot(cleanUrl).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaWriter.update: no Delta table at $cleanUrl"))
    enforceWritable(snap, "update")
    require(!snap.configuration.get("delta.appendOnly").contains("true"),
      s"DeltaWriter.update: table at $cleanUrl is append-only " +
        "(delta.appendOnly=true) — UPDATE rewrites rows, refused")
    val tblTypes = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    set.keys.foreach(k => require(tblTypes.contains(k),
      s"DeltaWriter.update: SET names column '$k' not in the table schema"))
    // GENERATED columns are derived state: SET-ing one directly is
    // refused (delta-spark's rule); instead every generated column is
    // recomputed AFTER the assignments, so updating a base column its
    // expression references keeps the derivation true by construction
    val gens = generationExprs(snap.schema)
    gens.foreach { case (f, _) => require(!set.contains(f.name),
      s"DeltaWriter.update: column '${f.name}' is GENERATED " +
        "(delta.generationExpression) — SET its base columns instead; " +
        "the derivation recomputes automatically") }
    // identity values survive an UPDATE unchanged: SET-ing one is
    // refused outright (matched rows keep their allocated values)
    identitySpecs(snap.schema).foreach { sp =>
      require(!set.contains(sp.name),
        s"DeltaWriter.update: column '${sp.name}' is an IDENTITY " +
          "column — its values are allocated, not assigned")
    }
    // ONE scan feeds both the mask and the rewrite: matched rows are
    // pinned (matched-sized, the rewrite working set every
    // copy-on-write UPDATE carries) so the two can't diverge. On
    // row-tracking-ENABLED tables the scan also resolves each row's
    // identity, carried into the updated images as the materialized
    // columns — an UPDATE must not reassign row ids.
    val rtu = rewriteRowTracking(snap)
    val touched = DeltaReader.prunePartitions(snap, cond)
    val matchedRows = (rtu match {
      case None => DeltaReader.scanWithRowIndex(touched)
      case Some(_) => DeltaReader.scanWithRowIndexAndIds(touched)
    }).where(cond).localCheckpoint(eager = false)
    val mask = matchedRows.select(col("__fp"), col("__ri"))
    val updated = snap.schema.fields.foldLeft(matchedRows) { (df, f) =>
      set.get(f.name) match {
        case Some(e) => df.withColumn(f.name, e.cast(f.dataType))
        case None => df
      }
    }
    // carry ONLY the row id: an UPDATEd row is a MODIFIED row, so per
    // the row-tracking protocol its commit version is the UPDATE
    // commit itself — the materialized version column stays NULL and
    // the reader's coalesce resolves it to the new add's
    // defaultRowCommitVersion. (Only dataChange=false rewrites like
    // OPTIMIZE preserve the old commit version.)
    val carryCols: Seq[org.apache.spark.sql.Column] = rtu match {
      case None => Seq.empty
      case Some((mi, mr, _)) =>
        Seq(col("_row_id").as(mi),
          lit(null).cast("bigint").as(mr))
    }
    val regenerated = gens.foldLeft(updated) { case (df, (f, g)) =>
      df.withColumn(f.name, expr(g).cast(f.dataType))
    }.select(snap.schema.fieldNames.map(col).toSeq ++ carryCols: _*)
    enforceCheckConstraints(snap, regenerated)
    // pre/postimages pair 1:1 under whole-row copy-on-write UPDATE.
    // With the feed on, PIN the postimages: the landed data files and
    // the cdc files are two separate actions over this frame, and a
    // nondeterministic SET (current_timestamp()) must not give the
    // feed a different post-state than the table
    val cdfOnU = snap.configuration
      .get("delta.enableChangeDataFeed").contains("true")
    val postimages =
      if (cdfOnU) regenerated.localCheckpoint(eager = false) else regenerated
    val cdcU: Option[DataFrame] =
      if (!cdfOnU) None
      else Some(
        matchedRows.select(snap.schema.fieldNames.map(col).toSeq: _*)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(postimages
            .select(snap.schema.fieldNames.map(col).toSeq: _*)
            .withColumn("_change_type", lit("update_postimage"))))
    copyOnWriteCommit(cleanUrl, snap, mask, Some(postimages), "UPDATE",
      cdcChanges = cdcU, rtNames = rtu)
  }

  /** Shared [[delete]]/[[merge]]/[[update]] tail: mask `maskRows`
    * (`__fp`, `__ri` against `snap`'s live files) behind per-file DV
    * sidecars, land `inserts` as new data files, and publish ONE
    * commit carrying the protocol upgrade (when needed), removes + DV
    * re-adds and the new adds.
    *
    * Jobs: ONE action runs the mask plan — grouped per touched file,
    * each task merges the file's old mask with the new rows and writes
    * the sidecar, and the driver collects one descriptor per file —
    * then ONE write lands `inserts`. Whether anything was inserted is
    * read off the landed footers (zero-record files are deleted, never
    * added). No mask and no insert = no commit; `inserts = None`
    * ([[delete]]) lands nothing. The verbs pin their frames with lazy
    * checkpoints, materialized by the first action that reads them.
    *
    * Race safety ([[commitLoop]]): every touched file must still be
    * live at the head with an UNCHANGED deletion vector (the masks were
    * computed against `snap`), and when rows are inserted the head's
    * schema and partitioning must be the ones they were landed for —
    * anything else raises loudly. Sidecars are named by fresh UUIDs,
    * so retries never collide. */
  private def copyOnWriteCommit(cleanUrl: String,
                                snap: DeltaReader.DeltaSnapshot,
                                maskRows: DataFrame, inserts: Option[DataFrame],
                                operation: String,
                                idObserved: Map[String, Long] = Map.empty,
                                cdcChanges: Option[DataFrame] = None,
                                rtNames: Option[(String, String,
                                  Map[String, String])] = None)
                               (implicit spark: SparkSession): Long = {
    import spark.implicits._
    val verb = operation.toLowerCase
    val t = new TableRoot(cleanUrl)
    val byKey = byFileKey(snap.files)

    // the mask plan's one action: per touched file, a task unions the
    // file's old mask (disjoint: the scan already applied it) with the
    // new matches and writes one sidecar; per-task memory is one
    // file's deleted-row count. A file missing from the snapshot
    // raises in the lookup.
    val files = DeltaReader.fileLookup(snap)
    val rootStr = t.base.toString
    val descriptors: Map[String, DeltaReader.DvDescriptor] = maskRows
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (fp, it) =>
        val idx = files.deleted(fp) ++ it.map(_._2)
        val data = DeletionVectors.serialize(idx.toSeq)
        val uuid = java.util.UUID.randomUUID()
        val p = new Path(rootStr, s"deletion_vector_$uuid.bin")
        val out = p.getFileSystem(files.hadoopConf).create(p, false)
        try {
          out.write(Array(DeletionVectors.FileFormatVersion))
          out.write(DeletionVectors.frame(data))
        } finally out.close()
        (fp, DeletionVectors.encodeUUID(uuid), data.length, idx.length.toLong)
      }
      .collect() // file-count bounded: one descriptor per touched file
      .map { case (fp, u, n, c) =>
        fp -> DeltaReader.DvDescriptor("u", u, Some(1), n, c) }.toMap
    val fileKeys: Seq[String] = descriptors.keys.toSeq.sorted

    // whether anything was inserted is read off the landed footers:
    // an empty insert set lands zero-record files, deleted here and
    // never added
    val physI = physColumnsFor(snap, verb)
    val landed: Seq[(Seq[(String, String)], Path)] = inserts.toSeq.flatMap(
      landFiles(t.fs, t.base, cleanUrl, _, snap.partitionColumns, physI,
        physTypesFor(snap)))
    val (landedLines, landedStats) = landedAdds(t, landed,
      snap.physicalSchema.getOrElse(snap.schema), dataChange = true)
    val (newAdds, newCounts) = landed.zip(landedLines)
      .zip(recordCounts(landed, landedStats))
      .flatMap { case (((_, p), line), n) =>
        if (n > 0) Some((line, n)) else { t.fs.delete(p, false); None }
      }.unzip
    if (fileKeys.isEmpty && newAdds.isEmpty) return snap.version
    val cdcLines = cdcLandAndLines(t, snap.configuration, snap.partitionColumns,
      physI, cdcChanges, physTypesFor(snap))

    commitOnHead(t, verb, operation) { head =>
      if (inserts.isDefined)
        require(head.partitionColumns == snap.partitionColumns &&
          canonical(head.schema) == canonical(snap.schema),
          s"DeltaWriter.$verb: concurrent schema/partitioning change " +
            s"on $cleanUrl — the rewrite was planned against a stale shape; re-run")
      val headByKey = byFileKey(head.files)
      fileKeys.foreach { k =>
        require(headByKey.get(k).exists(_.deletionVector == byKey(k).deletionVector),
          s"DeltaWriter.$verb: concurrent modification of $k — the " +
            "row masks were computed against a stale snapshot; re-run")
      }
      // a constraint added concurrently must not be committed violated
      if (newAdds.nonEmpty && checkConstraintsOf(head) != checkConstraintsOf(snap))
        inserts.foreach(enforceCheckConstraints(head, _))
      val needsUpgrade = fileKeys.nonEmpty &&
        !(head.protocol.minReaderVersion >= 3 &&
          head.protocol.readerFeatures.exists(_.contains("deletionVectors")))
      val protoLine =
        if (!needsUpgrade) Seq.empty
        else {
          // legacy versions imply feature sets (PROTOCOL.md's
          // legacy-to-table-features mapping); they must ALL surface
          // explicitly once the table goes reader 3 / writer 7, or
          // other engines silently stop enforcing them (CHECK
          // constraints, CDF, generated/identity columns)
          val impliedWriter = legacyWriterFeatures(head.protocol.minWriterVersion)
          val impliedReader =
            if (head.protocol.minReaderVersion >= 2) Seq("columnMapping")
            else Seq.empty
          val rf = (head.protocol.readerFeatures.getOrElse(impliedReader) :+
            "deletionVectors").distinct.sorted
          val wf = (head.protocol.writerFeatures.getOrElse(impliedWriter) :+
            "deletionVectors").distinct.sorted
          Seq(protocolLine(DeltaReader.DeltaProtocol(3, 7, Some(rf), Some(wf))))
        }
      // each new descriptor's cardinality counts the MERGED mask
      val dvLines = fileKeys.flatMap { k =>
        val f = byKey(k)
        Seq(removeLine(t, f, dataChange = true),
          liveAddLine(t.relOrAbs(new Path(f.path)), f, Some(descriptors(k))))
      }
      // the landed replacement files materialized row ids under
      // rtNames — a concurrent first rewrite recording DIFFERENT
      // names would strand them (rtRewriteLines' rule): re-run
      rtNames.foreach { case (mi, mr, _) =>
        require(head.configuration
            .get("delta.rowTracking.materializedRowIdColumnName")
            .forall(_ == mi) &&
          head.configuration
            .get("delta.rowTracking.materializedRowCommitVersionColumnName")
            .forall(_ == mr),
          s"DeltaWriter.$verb: a concurrent commit recorded " +
            "different materialized row-tracking column names — re-run")
      }
      val rtExtra = rtNames.map(_._3 -- head.configuration.keySet)
        .getOrElse(Map.empty)
      // explicit identity values in the inserts advance the high
      // watermark (delta-spark's SYNC IDENTITY on merge): one
      // metaData action (shared with the materialized-name record),
      // recomputed against the fresh head per attempt
      val metaLine = hwmMetaLine(head, idObserved, rtExtra).toSeq
      // row tracking: the DV re-adds above carried their ORIGINAL
      // assignment through rowIdCarry; the replacement/insert files
      // get fresh ids above the head's watermark
      val (newAdds2, rtDomain) =
        if (!rowTrackingOn(head) || newAdds.isEmpty) (newAdds, Seq.empty[String])
        else stampRowIds(head, newAdds, newCounts)
      Some(protoLine ++ metaLine ++ cdcLines ++ dvLines ++ newAdds2 ++ rtDomain)
    }
  }

  /** Materialize deletion vectors past `threshold` masked fraction:
    * per PROTOCOL.md's OPTIMIZE shape, the surviving rows of each
    * selected file are rewritten into fresh data files added with
    * `dataChange = false`, and the old file (with its DV) is removed
    * with `dataChange = false` in the same commit — logically
    * identical table, physically smaller scan. Selection needs per-
    * file TOTAL row counts, computed as ONE distributed parquet scan
    * of only the DV-carrying files (metadata column only); the
    * rewrite itself is one distributed masked read + one partitioned
    * write, driver work bounded by file/partition counts. The commit
    * is [[rewriteCommit]]'s. */
  def optimize(url: String, threshold: Double)
              (implicit spark: SparkSession): Long = {
    import org.apache.spark.sql.functions.col
    require(threshold >= 0.0 && threshold <= 1.0,
      s"DeltaWriter.optimize: threshold $threshold outside [0,1]")
    val cleanUrl = url.stripSuffix("/")
    val snap = DeltaReader.snapshot(cleanUrl).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaWriter.optimize: no Delta table at $cleanUrl"))
    enforceWritable(snap, "optimize")
    val physO = physColumnsFor(snap, "optimize")
    val dvFiles = snap.files.filter(_.deletionVector.exists(_.cardinality > 0))
    if (dvFiles.isEmpty) return snap.version
    // per-file total row count: one scan, metadata column only
    val totals: Map[String, Long] = spark.read
      .parquet(dvFiles.map(_.path): _*)
      .select(col("_metadata.file_path").as("__fp"))
      .groupBy(col("__fp")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val selected = dvFiles.filter { f =>
      val key = new Path(f.path).toUri.toString
      val total = totals.getOrElse(key, 0L)
      total > 0L &&
        f.deletionVector.get.cardinality.toDouble / total >= threshold
    }
    if (selected.isEmpty) return snap.version
    val t = new TableRoot(cleanUrl)
    // masked survivors of ONLY the selected files, partition values
    // attached so the partitioned rewrite lands in the right dirs
    val rt = rewriteRowTracking(snap)
    val survivors = rewriteSource(snap, selected, rt)
    val newFiles = landFiles(t.fs, t.base, cleanUrl, survivors,
      snap.partitionColumns, physO, physTypesFor(snap))
    rewriteCommit(t, "optimize", snap, selected, newFiles, rt)
  }

  /** Bin-packing file compaction: every
    * partition whose live file set holds at least `minFiles` data
    * files smaller than `targetFileBytes` gets those files rewritten
    * into ~`ceil(bytes/target)` fresh files (deletion-vector masks
    * materialized away in the process), committed as `dataChange =
    * false` add+remove — logically identical table, physically
    * O(target)-sized scans, streams see nothing. Returns the
    * committed version (the current one when no partition qualifies).
    *
    * Scale shape (100 TB): selection is pure log metadata (logged
    * `size` per add — no data read); each qualifying partition
    * rewrites as one distributed masked read + `coalesce(bins)` write
    * (coalesce, not repartition: compaction must not shuffle rows, it
    * merges task inputs). Driver work is file/partition-count
    * bounded. A thousand-commit append-stream table compacts one hot
    * partition at a time without touching the rest. The commit is
    * [[rewriteCommit]]'s. */
  def compact(url: String, targetFileBytes: Long = 128L * 1024 * 1024,
              minFiles: Int = 2)
             (implicit spark: SparkSession): Long = {
    require(targetFileBytes > 0, "DeltaWriter.compact: target must be > 0")
    require(minFiles >= 2, "DeltaWriter.compact: minFiles must be >= 2")
    val cleanUrl = url.stripSuffix("/")
    val snap = DeltaReader.snapshot(cleanUrl).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaWriter.compact: no Delta table at $cleanUrl"))
    enforceWritable(snap, "compact")
    val physC = physColumnsFor(snap, "compact")
    val groups: Seq[Seq[DeltaReader.DeltaFile]] = snap.files
      .filter(_.size < targetFileBytes)
      .groupBy(_.partitionValues).values.toSeq
      .filter(_.size >= minFiles)
      .map(_.sortBy(_.path))
      .sortBy(_.head.path)
    if (groups.isEmpty) return snap.version
    val t = new TableRoot(cleanUrl)
    // one masked read + coalesce(bins) write per qualifying partition;
    // partition values are attached by the assembler, so the
    // partitioned write lands each group back in its own directory
    val rt = rewriteRowTracking(snap)
    val newFiles: Seq[(Seq[(String, String)], Path)] = groups.flatMap { g =>
      val bins = math.max(1L,
        (g.map(_.size).sum + targetFileBytes - 1) / targetFileBytes).toInt
      val packed = rewriteSource(snap, g, rt).coalesce(bins)
      landFiles(t.fs, t.base, cleanUrl, packed,
        snap.partitionColumns, physC, physTypesFor(snap))
    }
    rewriteCommit(t, "compact", snap, groups.flatten, newFiles, rt)
  }

  /** OPTIMIZE ZORDER BY: rewrite the table's live rows clustered
    * along the Morton (Z-order) curve over `zCols`, so every landed
    * file carries a TIGHT `minValues`/`maxValues` envelope on every
    * clustered column at once — after which [[DeltaReader.scanPruned]]
    * range predicates on ANY of those columns (not just a
    * lexicographic prefix) skip most files from log metadata alone.
    *
    * Mechanics: one distributed `approxQuantile` pass yields
    * `nBuckets-1` boundaries per column (driver holds cols × buckets
    * doubles — bounded); each row's z-value is a single generated
    * `graft_zvalue` call (binary-search bucket per column,
    * MSB-first bit interleave); the rewrite range-partitions on
    * (partition columns, z) — a skew-aware range shuffle — and sorts
    * within partitions so row groups inside each file stay
    * curve-local too. Committed as `dataChange = false` add+remove
    * (DV masks materialized away): logically identical table,
    * streams see nothing.
    *
    * Column types: numerics and BOOLEAN (cast to double), DATE
    * (epoch days), TIMESTAMP (epoch seconds), and STRING via the
    * first-8-UTF-8-bytes magnitude — order-preserving on the prefix,
    * the same truncation Iceberg's zorder applies.
    *
    * Scale shape (100 TB): the quantile pass and the range-shuffled
    * rewrite are both fully distributed; driver work is file-count
    * and (cols × buckets) bounded. The commit is [[rewriteCommit]]'s. */
  def zorder(url: String, zCols: Seq[String],
             targetFileBytes: Long = 128L * 1024 * 1024,
             nBuckets: Int = 1024)
            (implicit spark: SparkSession): Long = {
    import org.apache.spark.sql.functions.{array, call_function, lit}
    require(zCols.nonEmpty && zCols.distinct == zCols,
      "DeltaWriter.zorder: zCols must be non-empty and distinct")
    require(nBuckets >= 2, "DeltaWriter.zorder: nBuckets must be >= 2")
    val perCol = nBuckets - 1
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(perCol.toLong)
    require(zCols.size * bits <= 63,
      s"DeltaWriter.zorder: ${zCols.size} cols x $bits bits overflow 63 z-bits — lower nBuckets")
    require(targetFileBytes > 0, "DeltaWriter.zorder: target must be > 0")
    val cleanUrl = url.stripSuffix("/")
    val snap = DeltaReader.snapshot(cleanUrl).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaWriter.zorder: no Delta table at $cleanUrl"))
    enforceWritable(snap, "zorder")
    val physZ = physColumnsFor(snap, "zorder")
    zCols.foreach { c =>
      require(snap.schema.fieldNames.contains(c),
        s"DeltaWriter.zorder: column '$c' not in the table schema")
      require(!snap.partitionColumns.contains(c),
        s"DeltaWriter.zorder: '$c' is a partition column — constant " +
          "within every file already; cluster on data columns")
    }
    // the rewrite reserves its working columns: a real column by one
    // of these names would be silently replaced and then dropped
    snap.schema.fieldNames.foreach { n =>
      require(n != "__z" && !n.startsWith("__zc"),
        s"DeltaWriter.zorder: table column '$n' collides with the " +
          "rewrite's reserved working columns (__z, __zc*)")
    }
    if (snap.files.isEmpty) return snap.version
    graft.functions.catalyst.GraftFunctions.register(spark)
    // order-preserving double rendering per supported type
    def prep(c: String): String = {
      val q = s"`$c`"
      snap.schema(c).dataType match {
        case DateType => s"cast(unix_date($q) as double)"
        case TimestampType => s"cast(unix_micros($q) as double)"
        case TimestampNTZType =>
          s"cast(unix_micros(cast($q as timestamp)) as double)"
        case BooleanType => s"cast(cast($q as int) as double)"
        case StringType =>
          // first 8 UTF-8 bytes as an unsigned magnitude: hex() is
          // 2 chars/byte, rpad keeps short strings left-aligned
          s"cast(conv(rpad(substring(hex(encode($q, 'UTF-8')), 1, 16), " +
            "16, '0'), 16, 10) as double)"
        case _: NumericType => s"cast($q as double)"
        case other => throw new IllegalArgumentException(
          s"DeltaWriter.zorder: unsupported type $other for column '$c'")
      }
    }
    val rt = rewriteRowTracking(snap)
    val survivors = rewriteSource(snap, snap.files, rt)
    val tmpCols = zCols.indices.map(i => s"__zc$i")
    val prepped = zCols.zip(tmpCols).foldLeft(survivors) {
      case (d, (c, t)) => d.withColumn(t, org.apache.spark.sql.functions.expr(prep(c)))
    }
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val quantiles = prepped.stat.approxQuantile(tmpCols.toArray, probs, 0.001)
    val boundsFlat: Seq[Double] = quantiles.toSeq.flatMap { qs =>
      // an all-null column yields no quantiles: pad (rows bucket to 0
      // through the NULL path anyway)
      if (qs.length == perCol) qs.toSeq else Seq.fill(perCol)(0.0)
    }
    val bins = math.max(1L, (snap.files.map(_.size).sum + targetFileBytes - 1)
      / targetFileBytes).toInt
    val pcols = snap.partitionColumns
    val rangeKeys = (pcols :+ "__z").map(col)
    val clustered = prepped
      .withColumn("__z", call_function("graft_zvalue",
        array(tmpCols.map(col): _*), array(boundsFlat.map(lit): _*),
        lit(perCol)))
      .repartitionByRange(bins, rangeKeys: _*)
      .sortWithinPartitions(rangeKeys: _*)
      .drop(tmpCols :+ "__z": _*)
    val t = new TableRoot(cleanUrl)
    val newFiles = landFiles(t.fs, t.base, cleanUrl, clustered,
      pcols, physZ, physTypesFor(snap))
    rewriteCommit(t, "zorder", snap, snap.files, newFiles, rt)
  }

  /** Shared [[optimize]]/[[compact]]/[[zorder]] tail: footer stats
    * and `dataChange = false` adds for the landed rewrite `newFiles`,
    * then one OPTIMIZE commit removing `replaced` (also `dataChange =
    * false`: logically identical table, streams see nothing) with the
    * row-tracking lines of [[rtRewriteLines]].
    *
    * Race safety ([[commitLoop]]): every replaced file must still be
    * live at the head with an IDENTICAL descriptor (path, deletion
    * vector, stats, row ids) — the rewrite was materialized from
    * `snap`; anything else raises loudly. */
  private def rewriteCommit(t: TableRoot, verb: String,
      snap: DeltaReader.DeltaSnapshot, replaced: Seq[DeltaReader.DeltaFile],
      newFiles: Seq[(Seq[(String, String)], Path)],
      rt: Option[(String, String, Map[String, String])])
      (implicit spark: SparkSession): Long = {
    val (adds, newStats) = landedAdds(t, newFiles,
      snap.physicalSchema.getOrElse(snap.schema), dataChange = false)
    // record counts for row-tracking stamping: resolved ONCE (stats
    // parse, or one count job for a stats-less file), not per attempt
    lazy val recCounts: Seq[Long] = recordCounts(newFiles, newStats)
    commitOnHead(t, verb, "OPTIMIZE") { head =>
      val headByKey = byFileKey(head.files)
      byFileKey(replaced).foreach { case (k, f) =>
        require(headByKey.get(k).contains(f),
          s"DeltaWriter.$verb: concurrent modification of $k — the " +
            "rewrite was materialized from a stale snapshot; re-run")
      }
      val (adds2, preLines, postLines) =
        rtRewriteLines(head, () => recCounts, rt, adds)
      Some(preLines ++ replaced.map(removeLine(t, _, dataChange = false)) ++
        adds2 ++ postLines)
    }
  }

  /** SHALLOW CLONE: create a new Delta table at `dstUrl` whose
    * version 0 references the SOURCE table's data files by absolute
    * path — zero bytes of data copied, only one commit JSON written.
    * The clone gets its own table id and an independent history:
    * appends/deletes/optimize on either side never touch the other
    * (the clone's rewrites land new files under ITS root; the
    * source's files are only ever dereferenced). Protocol, schema,
    * partitioning and configuration carry over verbatim, so a clone
    * of a DV/column-mapped/ICT table demands exactly the features the
    * source does. Source deletion vectors survive: `u`-storage DVs
    * (relative to the SOURCE root) are re-addressed as absolute
    * `p`-storage descriptors; inline `i` and absolute `p` carry as-is
    * — matching how delta-spark's CLONE keeps masks valid across
    * roots.
    *
    * Scale shape (100 TB): cost is O(live file count) driver-side
    * metadata — a petabyte table clones in one log write. The classic
    * use: a writable dev/test fork, or an experiment branch before a
    * risky MERGE, without duplicating storage.
    *
    * Caveat (same as delta-spark): VACUUM on the source can reclaim
    * files the clone still references — vacuum only consults its own
    * log. Returns the clone's committed version (always 0). */
  /** CONVERT TO DELTA: stamp an existing parquet directory tree (a
    * plain dump or a Hive `c=v` partition layout — a [[HiveDataset]]
    * root converts directly) with a `_delta_log` whose version 0
    * references the files IN PLACE — zero bytes rewritten, one commit
    * — after which every Delta verb (append, DV delete, MERGE,
    * OPTIMIZE, time travel...) works on it. The standard migration
    * verb (delta-spark's `CONVERT TO DELTA`).
    *
    * `partitionColumns` must name the directory levels in order;
    * partition values default to STRING per the Hive contract. The
    * data schema comes from Spark's parquet reading of the leaf
    * files (schema-merged), partition columns appended as STRING —
    * or as the type `partitionTypes` declares for them
    * (delta-spark's CONVERT TO DELTA infers partition types; this
    * writer takes them explicitly, validating every discovered
    * directory value parses CANONICALLY — "007" under int would
    * read back as 7 and orphan its directory, so it refuses).
    * Every add carries footer-derived stats, so data skipping works
    * from commit zero. Refuses when a `_delta_log` already exists
    * (never clobber someone's table) and when a data file's
    * directory depth disagrees with the declared partitioning.
    *
    * Scale shape (100 TB): one recursive listing + one footer read
    * per file (the same metadata class as any conversion); no row
    * data moves. */
  def convertToDelta(url: String, partitionColumns: Seq[String] = Seq.empty,
                     partitionTypes: Map[String, DataType] = Map.empty)
                    (implicit spark: SparkSession): Long = {
    val cleanUrl = url.stripSuffix("/")
    val t = new TableRoot(cleanUrl)
    val fs = t.fs
    require(fs.exists(t.base),
      s"DeltaWriter.convertToDelta: no directory at $cleanUrl")
    require(!fs.exists(t.logDir),
      s"DeltaWriter.convertToDelta: $cleanUrl already has a _delta_log")
    // collect data files, partition values from the directory chain
    def walk(dir: Path, pv: Seq[(String, String)])
        : Seq[(Path, Seq[(String, String)])] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        else if (st.isDirectory) {
          val eq = name.indexOf('=')
          require(eq > 0,
            s"DeltaWriter.convertToDelta: directory '$name' is not a " +
              "c=v partition level — only Hive layouts convert")
          val (c, v) = (name.substring(0, eq),
            ExternalCatalogUtils.unescapePathName(name.substring(eq + 1)))
          require(pv.size < partitionColumns.size &&
            partitionColumns(pv.size) == c,
            s"DeltaWriter.convertToDelta: partition level '$c' at depth " +
              s"${pv.size} does not match declared $partitionColumns")
          walk(st.getPath, pv :+ (c -> v))
        } else if (name.endsWith(".parquet")) {
          require(pv.size == partitionColumns.size,
            s"DeltaWriter.convertToDelta: data file $name sits at " +
              s"partition depth ${pv.size}, expected ${partitionColumns.size}")
          Seq((st.getPath, pv))
        } else Seq.empty
      }
    val found = walk(t.base, Seq.empty)
    require(found.nonEmpty,
      s"DeltaWriter.convertToDelta: no parquet files under $cleanUrl")
    // typed partition columns: declared types must cover only real
    // partition levels, and every discovered directory value must
    // round-trip its type canonically (value == rendered-back form)
    partitionTypes.keys.foreach(c => require(partitionColumns.contains(c),
      s"DeltaWriter.convertToDelta: partitionTypes names '$c', which is " +
        s"not in the declared partition columns $partitionColumns"))
    def canonical(v: String, dt: DataType): Boolean = try {
      dt match {
        case StringType  => true
        case IntegerType => v.toInt.toString == v
        case LongType    => v.toLong.toString == v
        case ShortType   => v.toShort.toString == v
        case ByteType    => v.toByte.toString == v
        case BooleanType => v == "true" || v == "false"
        case DoubleType  => v.toDouble.toString == v
        case FloatType   => v.toFloat.toString == v
        case DateType    => java.sql.Date.valueOf(v).toString == v
        case other => throw new IllegalArgumentException(
          s"DeltaWriter.convertToDelta: unsupported partition type " +
            s"${other.simpleString}")
      }
    } catch {
      case _: NumberFormatException => false
      case _: java.time.format.DateTimeParseException => false
      case _: IllegalArgumentException if dt == DateType => false
    }
    partitionTypes.foreach { case (c, dt) =>
      found.flatMap(_._2).filter(_._1 == c).map(_._2).distinct.foreach(v =>
        require(canonical(v, dt),
          s"DeltaWriter.convertToDelta: partition value '$v' of column " +
            s"'$c' does not parse canonically as ${dt.simpleString} — " +
            "converting it would orphan its directory on the next write"))
    }
    val dataSchema = spark.read.option("mergeSchema", "true")
      .parquet(found.map(_._1.toString): _*).schema
    partitionColumns.foreach(c =>
      require(!dataSchema.fieldNames.contains(c),
        s"DeltaWriter.convertToDelta: partition column '$c' also " +
          "exists inside the data files"))
    val schema = StructType(dataSchema.fields ++
      partitionColumns.map(c => StructField(c,
        partitionTypes.getOrElse(c, StringType), nullable = true)))
    val adds = found.sortBy(_._1.toString).map { case (p, pv) =>
      newFileAddLine(fs, p, t.rel(p), pv, dataChange = true,
        statsJson(fs, p, dataSchema))
    }
    val lines = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaDataLine(java.util.UUID.randomUUID.toString, schema,
        partitionColumns, Map.empty, System.currentTimeMillis)) ++ adds
    val ict = ictLines(Map.empty, fs, t.logDir, -1L, "CONVERT")
    require(publishCommit(fs, t.logDir, 0L,
      (ict ++ lines).mkString("\n") + "\n"),
      s"DeltaWriter.convertToDelta: lost a creation race on $cleanUrl")
    0L
  }

  def cloneShallow(srcUrl: String, dstUrl: String,
                   asOfVersion: Option[Long] = None)
                  (implicit spark: SparkSession): Long = {
    val cleanSrc = srcUrl.stripSuffix("/")
    val cleanDst = dstUrl.stripSuffix("/")
    require(cleanSrc != cleanDst,
      "DeltaWriter.cloneShallow: source and destination are the same table")
    val snap = DeltaReader.snapshotAt(cleanSrc, asOfVersion).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaWriter.cloneShallow: no Delta table at $cleanSrc"))
    require(DeltaReader.snapshot(cleanDst).isEmpty,
      s"DeltaWriter.cloneShallow: a Delta table already exists at $cleanDst")
    val t = new TableRoot(cleanDst)
    val srcRoot = new Path(snap.root)
    val metaLine = metaDataLine(java.util.UUID.randomUUID.toString, snap.schema,
      snap.partitionColumns, snap.configuration, System.currentTimeMillis)
    def dvPortable(d: DeltaReader.DvDescriptor): DeltaReader.DvDescriptor =
      d.storageType match {
        // re-resolve against the SOURCE root, then pin as absolute 'p'
        case "u" => d.copy(storageType = "p",
          pathOrInlineDv =
            DeletionVectors.sidecarPath(srcRoot, d.pathOrInlineDv).toString,
          offset = Some(d.offset.getOrElse(1)))
        case _ => d // 'i' inline and 'p' absolute are root-free already
      }
    // each add keeps its row-id assignment, and the clone carries the
    // source's watermark, so ids read the same and later appends
    // allocate above every id the source handed out
    val adds = snap.files.map { f =>
      liveAddLine(new Path(f.path).toUri.toString, f,
        f.deletionVector.map(dvPortable))
    }
    val rowIdDomain =
      if (!rowTrackingOn(snap) || !snap.domainMetadata.contains("delta.rowTracking")) Nil
      else Seq(rowTrackingDomainLine(rowIdHighWaterMark(snap)))
    val ict = ictLines(snap.configuration, t.fs, t.logDir, -1L, "CLONE")
    require(publishCommit(t.fs, t.logDir, 0L,
      (ict ++ Seq(protocolLine(snap.protocol), metaLine) ++ adds ++ rowIdDomain).mkString("\n") + "\n"),
      s"DeltaWriter.cloneShallow: version 0 already exists at $cleanDst " +
        "— lost a creation race")
    0L
  }

  /** RESTORE: commit the file-state diff head → target. Refuses when
    * the schema or partitioning changed between the two versions (a
    * restore across an evolution is a data rewrite, not a log diff).
    * Each [[commitLoop]] attempt recomputes the diff against the
    * FRESH head, so a lost commit race never restores against stale
    * state. */
  def restore(url: String, version: Long)
             (implicit spark: SparkSession): Long = {
    val cleanUrl = url.stripSuffix("/")
    val target = DeltaReader.snapshotAt(cleanUrl, Some(version)).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaWriter.restore: no Delta table at $cleanUrl"))
    DeltaReader.snapshot(cleanUrl).foreach(enforceWritable(_, "restore"))
    val t = new TableRoot(cleanUrl)
    val targetByKey = byFileKey(target.files)
    commitOnHead(t, "restore", "RESTORE") { head =>
      require(canonical(head.schema) == canonical(target.schema) &&
        head.partitionColumns == target.partitionColumns,
        s"DeltaWriter.restore: schema or partitioning changed since " +
          s"version $version — restore across an evolution is a data " +
          "rewrite, not a log diff")
      val headByKey = byFileKey(head.files)
      val removed = head.files
        .filter(f => !targetByKey.get(new Path(f.path).toUri.toString)
          .exists(_.deletionVector == f.deletionVector))
      val addFiles = target.files
        .filter(f => !headByKey.get(new Path(f.path).toUri.toString)
          .exists(_.deletionVector == f.deletionVector))
      if (removed.isEmpty && addFiles.isEmpty) None
      else {
        // an append-only table never loses rows; a restore that must
        // retract files is a non-append dataChange commit — refused,
        // matching delete()/overwrite (real Delta refuses these too)
        require(removed.isEmpty ||
          !head.configuration.get("delta.appendOnly").contains("true"),
          s"DeltaWriter.restore: table at $cleanUrl is append-only " +
            "(delta.appendOnly=true) — a restore that removes files is refused")
        // re-added files must still exist on disk: restoring past a
        // VACUUM would otherwise commit a head that fails at scan time
        val missing = addFiles.flatMap { f =>
          val dv = f.deletionVector.flatMap(DeletionVectors.sidecarFile(t.base, _))
          (new Path(f.path) +: dv.toSeq).filterNot(t.fs.exists)
        }
        require(missing.isEmpty,
          s"DeltaWriter.restore: version $version references vacuumed " +
            s"files — ${missing.map(_.toString).sorted.mkString(", ")}")
        Some(removed.map(removeLine(t, _, dataChange = true)) ++
          addFiles.map(f =>
            liveAddLine(t.relOrAbs(new Path(f.path)), f, f.deletionVector)))
      }
    }
  }

  /** Enforce the table's CHECK constraints (`delta.constraints.<name>`
    * properties, the protocol's `checkConstraints` feature) on the
    * incoming frame: a constraint is violated only by rows where its
    * expression is literally FALSE (SQL CHECK semantics — NULL
    * passes). One distributed pass over the combined condition; the
    * per-constraint attribution re-check runs only on the failure
    * path. */
  private def checkConstraintsOf(
      snap: DeltaReader.DeltaSnapshot): Seq[(String, String)] =
    constraintsIn(snap.configuration) ++ invariantsOf(snap.schema)

  /** The `delta.constraints.<name>` properties of `conf`, by name. */
  private[sources] def constraintsIn(
      conf: Map[String, String]): Seq[(String, String)] =
    conf.collect { case (k, v) if k.startsWith("delta.constraints.") =>
      k.stripPrefix("delta.constraints.") -> v
    }.toSeq.sortBy(_._1)

  /** Column INVARIANTS (`delta.invariants` field metadata, the legacy
    * writer-version-2 obligation): each is a row predicate this
    * writer now ENFORCES on every row-creating verb, riding the same
    * machinery as CHECK constraints — the rewrite verbs preserve them
    * by induction (they only copy rows that already passed).
    *
    * An invariant whose JSON deviates from the protocol's
    * `{"expression":{"expression":"<sql>"}}` shape REFUSES the write:
    * declaring the `invariants` writer feature supported obliges
    * enforcement, and silently skipping an unparseable predicate
    * would commit unvalidated rows against a constraint the table
    * demonstrably declared. */
  private[sources] def invariantsOf(schema: StructType): Seq[(String, String)] =
    schema.fields.toSeq.flatMap { f =>
      if (!f.metadata.contains("delta.invariants")) None
      else {
        val raw = f.metadata.getString("delta.invariants")
        val sql = scala.util.Try {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val node = om.readTree(raw).get("expression").get("expression")
          require(node.isTextual)
          node.asText
        }.getOrElse(throw new IllegalArgumentException(
          s"DeltaWriter: column '${f.name}' carries a delta.invariants " +
            s"value this writer cannot parse ($raw) — refusing to write " +
            "rows it cannot validate against the declared invariant"))
        Some(s"invariant(${f.name})" -> sql)
      }
    }

  private def enforceCheckConstraints(snap: DeltaReader.DeltaSnapshot,
                                      df: DataFrame): Unit =
    enforceRowPredicates(checkConstraintsOf(snap), df)

  /** ALTER TABLE … ADD CONSTRAINT `name` CHECK (`predicateSql`): one
    * metadata-only commit setting `delta.constraints.<name>` once the
    * head's rows pass the predicate (a constraint the data already
    * violates is refused; a head that moves before the publish is
    * checked again). Every later row-creating verb enforces it — NULL
    * passes, SQL CHECK semantics — and the protocol gains the
    * `checkConstraints` writer requirement when it lacks it. */
  def addConstraint(url: String, name: String, predicateSql: String)
                   (implicit spark: SparkSession): Long = {
    require(name.nonEmpty && predicateSql.nonEmpty,
      "DeltaWriter.addConstraint: name and predicate must be non-empty")
    var checked = -1L
    commitOnHead(new TableRoot(url.stripSuffix("/")), "addConstraint",
        "ADD CONSTRAINT") { head =>
      enforceWritable(head, "addConstraint")
      if (head.version != checked) {
        enforceRowPredicates(Seq(name -> predicateSql),
          DeltaReader.assembleSnapshot(head))
        checked = head.version
      }
      val p = head.protocol
      val upgrade =
        if (p.minWriterVersion < 3) Some(p.copy(minWriterVersion = 3))
        else if (p.minWriterVersion >= 7 &&
            !p.writerFeatures.exists(_.contains("checkConstraints")))
          Some(p.copy(writerFeatures =
            Some(p.writerFeatures.getOrElse(Nil) :+ "checkConstraints")))
        else None
      Some(upgrade.map(protocolLine).toSeq :+ configurationLine(head,
        head.configuration + (s"delta.constraints.$name" -> predicateSql)))
    }
  }

  /** ALTER TABLE … DROP CONSTRAINT: one metadata-only commit removing
    * `delta.constraints.<name>`; no commit when the table has no such
    * constraint (or no table exists). Returns the head version. */
  def dropConstraint(url: String, name: String)
                    (implicit spark: SparkSession): Long = {
    val key = s"delta.constraints.$name"
    commitLoop(new TableRoot(url.stripSuffix("/")), "dropConstraint",
        "DROP CONSTRAINT") { head =>
      head.foreach(enforceWritable(_, "dropConstraint"))
      head.filter(_.configuration.contains(key))
        .map(h => Seq(configurationLine(h, h.configuration - key)))
    }
  }

  /** The `metaData` action restating `head` with `conf`. */
  private def configurationLine(head: DeltaReader.DeltaSnapshot,
                                conf: Map[String, String]): String =
    metaDataLine(head.tableId, head.schema, head.partitionColumns, conf,
      head.createdTime.getOrElse(System.currentTimeMillis))

  private[sources] def enforceRowPredicates(
      constraints: Seq[(String, String)], df: DataFrame): Unit = {
    if (constraints.isEmpty) return
    val anyViolated = constraints
      .map { case (_, sql) => expr(sql) === lit(false) }
      .reduce(_ || _)
    if (!df.where(anyViolated).isEmpty) {
      val broken = constraints.flatMap { case (n, sql) =>
        val bad = df.where(expr(sql) === lit(false)).count()
        if (bad == 0) None else Some(s"$n ($sql): $bad row(s)")
      }
      throw new IllegalArgumentException(
        s"DeltaWriter: CHECK constraint violation — ${broken.mkString("; ")}")
    }
  }

  /** VACUUM: walk the table tree (everything but `_delta_log/`),
    * keep every file the HEAD snapshot references (live data files +
    * their `u`-mode DV sidecars), and delete the rest when old
    * enough — logged tombstones age by `deletionTimestamp`, unlogged
    * orphans (aborted writes, lost commit races) by file mtime, so
    * an in-flight writer's freshly-landed files always survive.
    *
    * Scale shape: the walk is a filesystem listing (file-count
    * bounded, the same class as every vacuum implementation); no row
    * data is read. */
  def vacuum(url: String, retentionMillis: Long)
            (implicit spark: SparkSession): Int = {
    require(retentionMillis >= 0, "DeltaWriter.vacuum: negative retention")
    val cleanUrl = url.stripSuffix("/")
    val snap = DeltaReader.snapshot(cleanUrl).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaWriter.vacuum: no Delta table at $cleanUrl"))
    val t = new TableRoot(cleanUrl)
    val fs = t.fs
    val cutoff = System.currentTimeMillis - retentionMillis
    // referenced = live data files + their sidecars. Keys are URI
    // PATHS (scheme/authority dropped): a table lives on one
    // filesystem, and FileStatus paths vs snapshot paths can differ
    // in authority spelling for the same file.
    val referenced: Set[String] = snap.files.flatMap { f =>
      val data = new Path(f.path).toUri.getPath
      // a `u` sidecar resolves under the table root; a `p` descriptor
      // is an absolute path that may also land inside the walk — both
      // are live while the HEAD references them ("i" is inline, no
      // file exists)
      val sidecar = f.deletionVector
        .flatMap(DeletionVectors.sidecarFile(t.base, _)).map(_.toUri.getPath)
      Seq(data) ++ sidecar
    }.toSet
    val tombstoneAge: Map[String, Long] = snap.tombstones.map {
      case (p, ts) => new Path(p).toUri.getPath -> ts
    }.toMap
    var deleted = 0
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      // the Delta convention: names starting with `_` or `.` are
      // engine artifacts (_delta_log, _temporary, _SUCCESS, .crc
      // shadows), never vacuum-managed data — EXCEPT `_change_data`,
      // whose cdc files (and crash-orphaned staging trees) are
      // vacuum-managed like any unreferenced file: they are never in
      // the head's referenced set, so they age out by the cutoff,
      // after which CDF reads of that window fail loudly (the same
      // contract as a vacuumed time-travel read — delta-spark's
      // VACUUM reclaims cdc files the same way)
      if (name == "_change_data" && st.isDirectory) walk(st.getPath)
      else if (name.startsWith("_") || name.startsWith(".")) ()
      else if (st.isDirectory) walk(st.getPath)
      else {
        val key = st.getPath.toUri.getPath
        val age = tombstoneAge.getOrElse(key, st.getModificationTime)
        if (!referenced.contains(key) && age < cutoff) {
          if (fs.delete(st.getPath, false)) deleted += 1
        }
      }
    }
    walk(t.base)
    deleted
  }

  /** Reclaim LOG artifacts the newest checkpoint makes redundant —
    * the metadata half of [[vacuum]] (real Delta's
    * `delta.logRetentionDuration` cleanup): JSON commits, classic
    * checkpoint parts and v2 manifests strictly OLDER than the newest
    * VERIFIED-COMPLETE checkpoint version (all parts of a multi-part
    * classic present; a v2 manifest's referenced sidecars all
    * present — a foreign writer's partial landing never anchors
    * deletion), plus `_sidecars/` files referenced by no
    * retained manifest, each deleted only when its mtime crosses
    * `retentionMillis`; a `_last_checkpoint` pointer left naming a
    * reclaimed checkpoint is dropped so pointer-trusting readers
    * are not sent to a nonexistent file. Publish and checkpoint
    * temps a killed writer left are swept once older than
    * [[TmpRetentionMs]], checkpoint or not. The head (checkpoint anchor
    * + commit tail)
    * replays identically afterwards; time travel to cleaned versions
    * raises the reader's loud truncation error — the standard
    * trade-off, never a silent wrong answer. Returns files deleted.
    *
    * Scale shape: one log listing plus one read of the retained
    * manifests' sidecar POINTERS (manifest-count bounded) — no data
    * file is touched, no row is read. A long-lived streaming table
    * checkpointing every 10 commits stays at O(interval) log size
    * forever. */
  def cleanupLog(url: String, retentionMillis: Long = 0L)
                (implicit spark: SparkSession): Int = {
    require(retentionMillis >= 0, "DeltaWriter.cleanupLog: negative retention")
    val cleanUrl = url.stripSuffix("/")
    val logDir = new Path(cleanUrl, "_delta_log")
    val fs: FileSystem = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(logDir)) return 0
    val (temps, entries) = fs.listStatus(logDir).filter(_.isFile).partition { st =>
      val n = st.getPath.getName
      n.startsWith("_tmp-") || n.startsWith(".tmp-cp-")
    }
    val tmpCutoff = System.currentTimeMillis - TmpRetentionMs
    var deleted = temps.count(st =>
      st.getModificationTime < tmpCutoff && fs.delete(st.getPath, false))
    val sidecarDir = new Path(logDir, "_sidecars")
    val presentSidecars: Set[String] =
      if (!fs.exists(sidecarDir)) Set.empty
      else fs.listStatus(sidecarDir).filter(_.isFile)
        .map(_.getPath.getName).toSet

    // ---- anchor selection: only VERIFIED-COMPLETE checkpoints ------
    // A foreign writer's partially-landed checkpoint (some parts of a
    // classic multi-part, or a v2 manifest whose sidecar never made
    // it) matches the name patterns but cannot replay — anchoring
    // deletion on it would turn that writer's transient crash into
    // permanent log corruption. delta-spark's metadata cleanup only
    // deletes below the latest COMPLETE checkpoint; so do we.
    val completeClassic: Set[Long] =
      DeltaReader.completeClassicCheckpoints(entries.toSeq).keySet
    // every v2 manifest's sidecar pointers, read ONCE up front
    // (manifest-count bounded; also feeds sidecar retention below)
    val sidecarSchema = StructType(Seq(StructField("sidecar", StructType(Seq(
      StructField("path", StringType))))))
    val manifestSidecars: Seq[(Long, Path, Seq[String])] =
      entries.map(_.getPath).flatMap { p =>
        p.getName match {
          case DeltaReader.V2CheckpointName(v, _, _) =>
            val df =
              if (p.getName.endsWith(".json"))
                spark.read.schema(sidecarSchema).json(p.toString)
              else spark.read.schema(sidecarSchema).parquet(p.toString)
            val refs = df.where(col("sidecar.path").isNotNull)
              .select(col("sidecar.path")).collect().map(_.getString(0))
              // stored relative to _sidecars/ OR absolute: compare by name
              .map(s => new Path(s).getName).toSeq
            Some((v.toLong, p, refs))
          case _ => None
        }
      }.toSeq
    val completeV2: Set[Long] = manifestSidecars.collect {
      case (v, _, refs) if refs.forall(presentSidecars.contains) => v
    }.toSet
    val verified = completeClassic ++ completeV2
    if (verified.isEmpty) return deleted // nothing verifiably anchors a replay
    val cp = verified.max

    val cutoff = System.currentTimeMillis - retentionMillis
    val deletedPaths = scala.collection.mutable.Set.empty[String]
    def reclaim(st: org.apache.hadoop.fs.FileStatus): Unit =
      if (st.getModificationTime < cutoff && fs.delete(st.getPath, false)) {
        deleted += 1
        deletedPaths += st.getPath.toUri.getPath
      }
    entries.foreach { st =>
      st.getPath.getName match {
        case DeltaReader.CommitName(v) if v.toLong < cp => reclaim(st)
        case DeltaReader.CheckpointName(v, _) if v.toLong < cp => reclaim(st)
        case DeltaReader.V2CheckpointName(v, _, _) if v.toLong < cp =>
          reclaim(st)
        case _ => ()
      }
    }
    // sidecars referenced by ANY manifest that survived this pass stay
    // (not just version-cp ones: an older manifest still inside the
    // retention window anchors time travel, and its sidecars must not
    // be yanked from under it); the rest are re-derivable
    val referencedSidecars: Set[String] = manifestSidecars.collect {
      case (_, p, refs) if !deletedPaths.contains(p.toUri.getPath) => refs
    }.flatten.toSet
    if (fs.exists(sidecarDir))
      fs.listStatus(sidecarDir).filter(_.isFile).foreach { st =>
        if (!referencedSidecars.contains(st.getPath.getName)) reclaim(st)
      }
    // _last_checkpoint hygiene: if the checkpoint the pointer names
    // was reclaimed above (e.g. a classic file below a newer v2
    // anchor), pointer-trusting readers (delta-rs) would be sent to a
    // nonexistent file — drop the pointer; discovery-by-listing
    // readers (ours) are unaffected
    val lcPath = new Path(logDir, "_last_checkpoint")
    if (fs.exists(lcPath)) {
      val pointed = DeltaReader.commitRecords(fs, fs.getFileStatus(lcPath))
        .headOption.flatMap(n => Option(n.get("version"))).map(_.asLong)
      val stillThere = pointed.exists { pv =>
        entries.exists { st =>
          !deletedPaths.contains(st.getPath.toUri.getPath) &&
            (st.getPath.getName match {
              case DeltaReader.CheckpointName(v, _) => v.toLong == pv
              case DeltaReader.V2CheckpointName(v, _, _) => v.toLong == pv
              case _ => false
            })
        }
      }
      if (!stillThere && fs.delete(lcPath, false)) deleted += 1
    }
    deleted
  }

  /** Writer features this writer actually implements — the
    * write-side mirror of [[DeltaReader]]'s reader-feature gate:
    * `generatedColumns` via [[applyGeneratedColumns]],
    * `identityColumns` via [[identitySpecs]] allocation + watermark
    * bookkeeping, `invariants` via [[invariantsOf]] riding the CHECK
    * constraint enforcement. Unknown features still refuse every
    * verb. */
  private[sources] val SupportedWriterFeatures: Set[String] = Set(
    "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
    "deletionVectors", "v2Checkpoint", "inCommitTimestamp",
    "columnMapping", "generatedColumns", "identityColumns",
    "timestampNtz", "domainMetadata", "rowTracking",
    // liquid clustering: the delta.clustering domain names the
    // clustering columns; appends need no re-clustering (the
    // protocol's writer requirement is layout-advisory), and
    // [[optimizeClustered]] honors the domain with the z-order
    // rewrite. The domain itself survives every commit by replay.
    "clustering")

  /** The clustered-table domain (`delta.clustering`, the `clustering`
    * writer feature): LOGICAL clustering column names resolved from
    * the domain's `clusteringColumns` (stored as arrays of PHYSICAL
    * path elements). Empty when the domain is absent; a present but
    * unreadable domain, or a nested clustering path, refuses loudly —
    * an obligation this writer cannot read is one it cannot honor. */
  private[sources] def clusteringColumnsOf(
      snap: DeltaReader.DeltaSnapshot): Seq[String] =
    snap.domainMetadata.get("delta.clustering") match {
      case None => Seq.empty
      case Some(conf) =>
        val paths: Seq[Seq[String]] = scala.util.Try {
          val n = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(conf).get("clusteringColumns")
          require(n != null && n.isArray)
          import scala.jdk.CollectionConverters._
          n.elements().asScala.map { p =>
            require(p.isArray)
            p.elements().asScala.map(_.asText).toSeq
          }.toSeq
        }.getOrElse(throw new IllegalArgumentException(
          s"DeltaWriter: the delta.clustering domain metadata ($conf) " +
            "is unreadable — refusing to rewrite a clustered table " +
            "whose layout contract cannot be parsed"))
        val physToLogical: Map[String, String] = snap.physicalSchema
          .map(ps => ps.fields.map(_.name).zip(
            snap.schema.fields.map(_.name)).toMap)
          .getOrElse(snap.schema.fieldNames.map(n => n -> n).toMap)
        paths.map { p =>
          require(p.length == 1,
            s"DeltaWriter: nested clustering column ${p.mkString(".")} " +
              "unsupported — flat clustering columns only")
          physToLogical.getOrElse(p.head, throw new IllegalArgumentException(
            s"DeltaWriter: clustering column '${p.head}' not in the " +
              "table's physical schema"))
        }
    }

  /** OPTIMIZE a liquid-clustered table: honor the `delta.clustering`
    * domain by rewriting the data z-ordered on its columns (one
    * column degenerates to a range-sort — the same curve machinery).
    * The domain itself is untouched: domain metadata survives the
    * rewrite commit by log replay. */
  def optimizeClustered(url: String,
                        targetFileBytes: Long = 128L * 1024 * 1024,
                        nBuckets: Int = 1024)
                       (implicit spark: SparkSession): Long = {
    val cleanUrl = url.stripSuffix("/")
    val snap = DeltaReader.snapshot(cleanUrl).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaWriter.optimizeClustered: no Delta table at $cleanUrl"))
    val cols = clusteringColumnsOf(snap)
    require(cols.nonEmpty,
      s"DeltaWriter.optimizeClustered: table at $cleanUrl declares no " +
        "delta.clustering domain — use zorder/compact directly")
    zorder(cleanUrl, cols, targetFileBytes, nBuckets)
  }

  /** Row tracking (`rowTracking` writer feature): every new add
    * carries `baseRowId` (fresh ids = baseRowId + row position) and
    * `defaultRowCommitVersion`, the `delta.rowTracking` domain
    * records the id high watermark, DV re-adds preserve their file's
    * original assignment, and rewrites (compact / zorder / optimize)
    * on ENABLED tables (`delta.enableRowTracking = true`) carry the
    * old ids through the materialized row-id/commit-version columns
    * the table's configuration names. */
  private def rowTrackingOn(snap: DeltaReader.DeltaSnapshot): Boolean =
    snap.protocol.writerFeatures.exists(_.contains("rowTracking"))

  /** -1 when the domain is ABSENT (a fresh table); a PRESENT but
    * unparseable domain refuses — defaulting it to -1 would reallocate
    * already-assigned row ids, silently corrupting the stable-identity
    * guarantee (the delta.invariants rule: an obligation this writer
    * cannot read is one it cannot honor). */
  private[sources] def rowIdHighWaterMark(
      snap: DeltaReader.DeltaSnapshot): Long =
    snap.domainMetadata.get("delta.rowTracking") match {
      case None => -1L
      case Some(conf) =>
        scala.util.Try {
          val n = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(conf).get("rowIdHighWaterMark")
          require(n != null && n.isIntegralNumber)
          n.asLong
        }.getOrElse(throw new IllegalArgumentException(
          s"DeltaWriter: the delta.rowTracking domain metadata ($conf) " +
            "is unreadable — refusing to allocate row ids that could " +
            "collide with the recorded watermark"))
    }

  private def rowTrackingDomainLine(hwm: Long): String =
    s"""{"domainMetadata":{"domain":"delta.rowTracking",""" +
      s""""configuration":"{\\"rowIdHighWaterMark\\":$hwm}",""" +
      """"removed":false}}"""

  /** Record count of a landed file — from its stats JSON (computed
    * for the add anyway), falling back to one distributed count. */
  private def numRecordsOf(stats: Option[String], p: Path)
                          (implicit spark: SparkSession): Long =
    stats.flatMap { s =>
      scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(s).get("numRecords").asLong).toOption
    }.getOrElse(spark.read.parquet(p.toString).count())

  /** Row-id PRESERVATION plan for a rewrite (compact/zorder/optimize)
    * on `snap`: Some((matRowIdCol, matRcvCol, configAdditions)) when
    * row tracking is ENABLED (`delta.enableRowTracking = true` —
    * rewritten rows must keep their ids, which only the materialized
    * columns can carry once rows change files), None otherwise.
    * Missing materialized column names are allocated fresh
    * (delta-spark's enablement does the same) and recorded in the
    * rewrite commit's metaData via `configAdditions`. */
  private def rewriteRowTracking(snap: DeltaReader.DeltaSnapshot)
      : Option[(String, String, Map[String, String])] =
    if (!rowTrackingOn(snap) ||
        !snap.configuration.get("delta.enableRowTracking").contains("true"))
      None
    else {
      val miKey = "delta.rowTracking.materializedRowIdColumnName"
      val mrKey = "delta.rowTracking.materializedRowCommitVersionColumnName"
      val mi = snap.configuration.getOrElse(miKey,
        s"_row-id-col-${java.util.UUID.randomUUID}")
      val mr = snap.configuration.getOrElse(mrKey,
        s"_row-commit-version-col-${java.util.UUID.randomUUID}")
      Some((mi, mr,
        Map(miKey -> mi, mrKey -> mr) -- snap.configuration.keySet))
    }

  /** The rewrite's source frame over `files`: plain assembled rows,
    * or — when preserving row ids — the same rows PLUS the
    * materialized row-id/commit-version columns carrying each row's
    * CURRENT identity (resolved from existing materialized values or
    * baseRowId + row_index), under the names the landed parquet must
    * store. */
  private def rewriteSource(snap: DeltaReader.DeltaSnapshot,
      files: Seq[DeltaReader.DeltaFile],
      rt: Option[(String, String, Map[String, String])])
      (implicit spark: SparkSession): DataFrame = rt match {
    case None => DeltaReader.assembleSnapshot(snap.copy(files = files))
    case Some((mi, mr, _)) =>
      DeltaReader.assembleWithRowIds(snap.copy(files = files))
        .withColumnRenamed("_row_id", mi)
        .withColumnRenamed("_row_commit_version", mr)
  }

  /** Per-attempt row-tracking lines for a rewrite commit: freshly
    * stamped adds (base ids above the HEAD's watermark), the domain
    * watermark advance, and — first rewrite on a table whose config
    * lacked the materialized column names — the metaData recording
    * them. Returns (adds, preLines, postLines). */
  private def rtRewriteLines(head: DeltaReader.DeltaSnapshot,
      recCounts: () => Seq[Long],
      rt: Option[(String, String, Map[String, String])],
      plainAdds: Seq[String]): (Seq[String], Seq[String], Seq[String]) =
    if (!rowTrackingOn(head)) (plainAdds, Seq.empty, Seq.empty)
    else {
      // `rt` is the preservation plan resolved from the PLANNING
      // snapshot; if a concurrent commit flipped
      // delta.enableRowTracking since, a dataChange=false rewrite
      // planned WITHOUT preservation would commit files with fresh
      // baseRowIds and no materialized carry — silently reassigning
      // row ids on a table that now guarantees stability (and the
      // inverse stamps stale names on a table that dropped them).
      // First writer wins: refuse and re-run.
      val headEnabled = head.configuration
        .get("delta.enableRowTracking").contains("true")
      require(headEnabled == rt.isDefined,
        "DeltaWriter: delta.enableRowTracking changed concurrently " +
          "between planning and publish — the rewrite's row-id " +
          "preservation plan is stale; re-run")
      // the landed files materialized ids under the names in `rt`
      // (resolved from OUR snapshot) — a concurrent first rewrite may
      // have recorded DIFFERENT names at the head since. Committing
      // against them would strand our materialized columns (or
      // clobber the winner's recorded names): first writer wins,
      // re-run so the retry materializes under the head's names.
      rt.foreach { case (mi, mr, _) =>
        val miKey = "delta.rowTracking.materializedRowIdColumnName"
        val mrKey = "delta.rowTracking.materializedRowCommitVersionColumnName"
        require(head.configuration.get(miKey).forall(_ == mi) &&
          head.configuration.get(mrKey).forall(_ == mr),
          "DeltaWriter: a concurrent rewrite recorded different " +
            "materialized row-tracking column names — re-run so the " +
            "rewrite materializes under the recorded names")
      }
      val (stamped, domain) = stampRowIds(head, plainAdds, recCounts())
      val metaLine = rt.map(_._3).filter(_.nonEmpty)
        // additions recomputed against the HEAD's config: names the
        // head already records (necessarily equal, per the guard) are
        // not re-written
        .map(extra => extra -- head.configuration.keySet)
        .filter(_.nonEmpty)
        .map(extra =>
          metaDataLine(head.tableId, head.schema, head.partitionColumns,
            head.configuration ++ extra,
            head.createdTime.getOrElse(System.currentTimeMillis))).toSeq
      (stamped, metaLine, domain)
    }

  /** Refuse to write a table whose protocol or schema demands writer
    * behavior this writer does not implement — the loud line every
    * engine draws instead of corrupting a foreign table's contract:
    * unknown writer features (protocol table features, PROTOCOL.md),
    * IDENTITY columns (`delta.identity.*` — we cannot allocate
    * them), column invariants (`delta.invariants` — we do not
    * enforce them). GENERATED columns are implemented
    * ([[applyGeneratedColumns]] computes or validates them on every
    * row-creating verb) and pass. READS of such tables stay fine:
    * writer features never gate a reader. */
  private[sources] def enforceWritable(snap: DeltaReader.DeltaSnapshot,
                                       verb: String): Unit = {
    val unknown = snap.protocol.writerFeatures.getOrElse(Seq.empty)
      .filterNot(SupportedWriterFeatures)
    require(unknown.isEmpty,
      s"DeltaWriter.$verb: table requires writer feature(s) " +
        s"${unknown.mkString(", ")} this writer does not implement — " +
        "refusing (a blind write would break the table's contract)")
    // IDENTITY columns ([[identitySpecs]]: allocation on write/append,
    // explicit-insert gating on merge) and column invariants
    // ([[invariantsOf]]: enforced with CHECK constraints) are
    // implemented — no per-column refusals remain here.
  }

  /** Generation expressions per column (`delta.generationExpression`
    * field metadata — the `generatedColumns` writer feature). */
  private[sources] def generationExprs(schema: StructType): Seq[(StructField, String)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains("delta.generationExpression") =>
        (f, f.metadata.getString("delta.generationExpression"))
    }

  /** Declaration-side sugar: tag `name` in `df` as GENERATED by
    * `genSql` (`delta.generationExpression` field metadata, the form
    * delta-spark's `GENERATED ALWAYS AS` stores), so the CREATING
    * write records the derivation in the table schema and every
    * later write computes or validates it. */
  def asGenerated(df: DataFrame, name: String, genSql: String): DataFrame = {
    require(df.columns.contains(name),
      s"DeltaWriter.asGenerated: column '$name' not in the dataframe")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(df.schema(name).metadata)
      .putString("delta.generationExpression", genSql).build()
    df.withMetadata(name, meta)
  }

  /** One IDENTITY column's contract (`delta.identity.*` field
    * metadata): values live on the `start + k*step` lattice;
    * `highWaterMark` is the farthest value yet committed in step
    * direction (absent until the first allocation);
    * `allowExplicitInsert = false` is `GENERATED ALWAYS` (explicit
    * values refuse), `true` is `GENERATED BY DEFAULT`. */
  private[sources] final case class IdentitySpec(name: String, start: Long,
      step: Long, allowExplicitInsert: Boolean, highWaterMark: Option[Long])

  private[sources] def identitySpecs(schema: StructType): Seq[IdentitySpec] =
    schema.fields.toSeq.filter(f =>
      f.metadata.contains("delta.identity.start") ||
        f.metadata.contains("delta.identity.step") ||
        f.metadata.contains("delta.identity.allowExplicitInsert"))
      .map { f =>
        require(f.dataType == LongType,
          s"DeltaWriter: IDENTITY column '${f.name}' must be BIGINT, " +
            s"is ${f.dataType.simpleString}")
        val m = f.metadata
        def longOr(k: String, d: Long) =
          if (m.contains(k)) m.getLong(k) else d
        val step = longOr("delta.identity.step", 1L)
        require(step != 0L,
          s"DeltaWriter: IDENTITY column '${f.name}' has step 0")
        IdentitySpec(f.name, longOr("delta.identity.start", 1L), step,
          m.contains("delta.identity.allowExplicitInsert") &&
            m.getBoolean("delta.identity.allowExplicitInsert"),
          if (m.contains("delta.identity.highWaterMark"))
            Some(m.getLong("delta.identity.highWaterMark")) else None)
      }

  /** `schema` with each named identity column's
    * `delta.identity.highWaterMark` replaced. */
  private[sources] def stampHighWaterMarks(schema: StructType,
      hwms: Map[String, Long]): StructType =
    StructType(schema.fields.map { f =>
      hwms.get(f.name).fold(f) { h =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("delta.identity.highWaterMark", h).build())
      }
    })

  /** Declaration-side sugar: tag `name` (a BIGINT column) in `df` as
    * an IDENTITY column. `allowExplicitInsert = false` makes it
    * `GENERATED ALWAYS` — later appends must OMIT the column and the
    * writer allocates on the (start, step) lattice. */
  def asIdentity(df: DataFrame, name: String, start: Long = 1L,
                 step: Long = 1L,
                 allowExplicitInsert: Boolean = false): DataFrame = {
    require(df.columns.contains(name),
      s"DeltaWriter.asIdentity: column '$name' not in the dataframe")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(df.schema(name).metadata)
      .putLong("delta.identity.start", start)
      .putLong("delta.identity.step", step)
      .putBoolean("delta.identity.allowExplicitInsert", allowExplicitInsert)
      .build()
    df.withMetadata(name, meta)
  }

  /** The one shared renderer for an `add` action over a freshly
    * landed file — every rewrite verb's adds and the write path's
    * adds flow through here, so a new protocol field lands in one
    * place. `encodedPath` is the final log-encoded path string. */
  private def newFileAddLine(fs: FileSystem, p: Path, encodedPath: String,
      kvs: Seq[(String, String)], dataChange: Boolean,
      stats: Option[String], tags: Map[String, String] = Map.empty): String = {
    val st = fs.getFileStatus(p)
    val statsStr = stats
      .map(x => s""","stats":"${jsonEscape(x)}"""").getOrElse("")
    s"""{"add":{"path":"${jsonEscape(encodedPath)}",""" +
      s""""partitionValues":${stringMapJson(kvs)},""" +
      s""""size":${st.getLen},"modificationTime":${st.getModificationTime},""" +
      s""""dataChange":$dataChange$statsStr${tagsJson(tags)}}}"""
  }

  /** The `,"baseRowId":…,"defaultRowCommitVersion":…` tail preserving
    * a live file's existing assignment on its re-add (DV commits). */
  private def rowIdCarry(f: DeltaReader.DeltaFile): String =
    f.baseRowId.map(b => s""","baseRowId":$b""").getOrElse("") +
      f.defaultRowCommitVersion
        .map(v => s""","defaultRowCommitVersion":$v""").getOrElse("")

  /** Splice extra JSON fields into an add line THIS writer rendered
    * (always `…}}`-terminated) — lets the commit retry loop restamp
    * per-attempt row-tracking fields without re-statting files or
    * re-parsing stats per attempt. */
  private def spliceAddFields(addLine: String, extra: String): String = {
    require(addLine.endsWith("}}"),
      s"DeltaWriter: cannot splice into non-add line: $addLine")
    addLine.dropRight(2) + extra + "}}"
  }

  /** A `protocol` action stating `p`. */
  private def protocolLine(p: DeltaReader.DeltaProtocol): String = {
    def featArr(key: String, features: Option[Seq[String]]): String =
      features.map(_.map(x => s""""${jsonEscape(x)}"""")
        .mkString(s""","$key":[""", ",", "]")).getOrElse("")
    s"""{"protocol":{"minReaderVersion":${p.minReaderVersion},""" +
      s""""minWriterVersion":${p.minWriterVersion}""" +
      featArr("readerFeatures", p.readerFeatures) +
      featArr("writerFeatures", p.writerFeatures) + "}}"
  }

  /** The one shared `metaData` action renderer. */
  private def metaDataLine(tableId: String, schema: StructType,
      partitionColumns: Seq[String], configuration: Map[String, String],
      createdTime: Long): String =
    s"""{"metaData":{"id":"${jsonEscape(tableId)}",""" +
      """"format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${jsonEscape(schema.json)}",""" +
      s""""partitionColumns":[${partitionColumns.map(c =>
        s""""${jsonEscape(c)}"""").mkString(",")}],""" +
      s""""configuration":{${configuration.map { case (k, v) =>
        s""""${jsonEscape(k)}":"${jsonEscape(v)}"""" }.mkString(",")}},""" +
      s""""createdTime":$createdTime}}"""

  /** The `metaData` line advancing identity high watermarks past the
    * `observed` extremes (per column, in step direction) — None when
    * nothing advances, so commits stay metaData-free in the common
    * case. Evaluated against the CURRENT head per publish attempt. */
  private def hwmMetaLine(head: DeltaReader.DeltaSnapshot,
      observed: Map[String, Long],
      confExtra: Map[String, String] = Map.empty): Option[String] = {
    val specs = identitySpecs(head.schema)
    val advanced = observed.flatMap { case (n, obs) =>
      specs.find(_.name == n).flatMap { sp =>
        val merged = sp.highWaterMark.fold(obs)(h =>
          if (sp.step > 0) math.max(h, obs) else math.min(h, obs))
        if (sp.highWaterMark.contains(merged)) None else Some(n -> merged)
      }
    }
    // ONE metaData per commit: identity watermarks and configuration
    // additions (materialized row-tracking names) ride together
    if (advanced.isEmpty && confExtra.isEmpty) None
    else Some(metaDataLine(head.tableId,
      stampHighWaterMarks(head.schema, advanced), head.partitionColumns,
      head.configuration ++ confExtra,
      head.createdTime.getOrElse(System.currentTimeMillis)))
  }

  /** When the table enables the change-data feed
    * (`delta.enableChangeDataFeed = true`), land `changes` (table
    * columns + `_change_type`) as `_change_data/` parquet and return
    * the commit's `cdc` action lines — the PROTOCOL's writer
    * obligation: a commit that masks rows behind deletion vectors
    * cannot be re-derived by foreign CDF readers from add/remove
    * actions alone, so on CDF-enabled tables these files are that
    * commit's authoritative change set (delta-spark reads exactly
    * them in `table_changes`). cdc actions never affect table state;
    * vacuum ages the files out like any unreferenced file, after
    * which CDF reads of that window fail loudly — the same contract
    * as a vacuumed time-travel read. No-op when the feed is off. */
  private def cdcLandAndLines(t: TableRoot, conf: Map[String, String],
      partitionColumns: Seq[String],
      phys: Map[String, (String, Option[Long])],
      changes: => Option[DataFrame],
      physTypes: Map[String, DataType] = Map.empty): Seq[String] = {
    if (!conf.get("delta.enableChangeDataFeed").contains("true"))
      return Seq.empty
    // `id`-mode files are matched by parquet field id, and
    // `_change_type` has none to carry — a cdc file would be
    // unreadable under the table's own mapping rules
    require(!conf.get("delta.columnMapping.mode").contains("id"),
      "DeltaWriter: the change-data feed on id-mode column-mapped " +
        "tables is unsupported — _change_type carries no field id; " +
        "use name mode or disable delta.enableChangeDataFeed")
    val df = changes.getOrElse(return Seq.empty)
    val cdcBase = new Path(t.base, "_change_data")
    t.fs.mkdirs(cdcBase)
    val landed = landFiles(t.fs, cdcBase, t.cleanUrl, df, partitionColumns,
      phys, physTypes)
    landed.map { case (kvs, p) =>
      s"""{"cdc":{"path":"${jsonEscape(t.rel(p))}",""" +
        s""""partitionValues":${stringMapJson(kvs)},""" +
        s""""size":${t.fs.getFileStatus(p).getLen},"dataChange":false}}"""
    }
  }

  /** Materialize GENERATED columns on `df` against `schema`: a
    * MISSING generated column is computed from its expression (cast
    * to the declared type — how a date(ts)-partitioned table fills
    * its partition column from raw events); a PROVIDED one is
    * validated against the recomputation in ONE distributed
    * null-safe pass, so a drifted upstream pipeline fails loudly
    * instead of committing rows that contradict the table's own
    * contract (delta-spark enforces the same via an internal CHECK).
    * Returns the frame plus whether anything was synthesized.
    * Generation expressions are deterministic by protocol rule, so
    * recomputation is always well-defined. */
  private[sources] def applyGeneratedColumns(schema: StructType, df: DataFrame)
      : (DataFrame, Boolean) = {
    val gens = generationExprs(schema)
    if (gens.isEmpty) return (df, false)
    val (provided, missing) = gens.partition { case (f, _) =>
      df.columns.contains(f.name) }
    val filled = missing.foldLeft(df) { case (d, (f, g)) =>
      d.withColumn(f.name, expr(g).cast(f.dataType)) }
    if (provided.nonEmpty) {
      val mismatch = provided.map { case (f, g) =>
        !(col(f.name) <=> expr(g).cast(f.dataType)) }.reduce(_ || _)
      require(df.where(mismatch).isEmpty,
        s"DeltaWriter: provided values for GENERATED column(s) " +
          s"${provided.map(_._1.name).mkString(", ")} contradict their " +
          "generation expressions — refusing to commit rows that break " +
          "the table's own contract")
    }
    (filled, missing.nonEmpty)
  }

  /** The writer features a legacy `minWriterVersion` implies
    * (PROTOCOL.md "Table Features" legacy mapping) — cumulative:
    * 2 = appendOnly+invariants, 3 adds checkConstraints, 4 adds
    * changeDataFeed+generatedColumns, 5 adds columnMapping, 6 adds
    * identityColumns. */
  private[sources] def legacyWriterFeatures(minWriterVersion: Int): Seq[String] = {
    val byVersion = Seq(
      2 -> Seq("appendOnly", "invariants"),
      3 -> Seq("checkConstraints"),
      4 -> Seq("changeDataFeed", "generatedColumns"),
      5 -> Seq("columnMapping"),
      6 -> Seq("identityColumns"))
    byVersion.collect { case (v, fs) if minWriterVersion >= v => fs }.flatten
  }

  /** Checkpoint the log every `delta.checkpointInterval` commits
    * (default [[DefaultCheckpointInterval]]): a single
    * `<v>.checkpoint.parquet` holding the FULL v-state (protocol,
    * metaData, live adds with their deletion vectors, unexpired
    * remove tombstones) plus the `_last_checkpoint` pointer — so a
    * long-lived table's replay cost stays O(interval) for EVERY
    * protocol-conformant reader, not just ours, and the JSON tail
    * older than the newest checkpoint becomes safely vacuumable.
    * Idempotent and race-safe: the version whose commit we just WON
    * names the checkpoint, so two writers can only contend when one
    * is re-checkpointing an existing version — first file wins,
    * the loser skips. */
  private def maybeCheckpoint(t: TableRoot, version: Long)
                             (implicit spark: SparkSession): Unit = try {
    if (version <= 0) return
    val snap = DeltaReader.snapshotAt(t.cleanUrl, Some(version)).getOrElse(return)
    val interval = snap.configuration.get("delta.checkpointInterval")
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse(DefaultCheckpointInterval)
    if (interval <= 0 || version % interval != 0) return
    val useV2 =
      snap.configuration.get("delta.checkpointPolicy").contains("v2") &&
        snap.protocol.readerFeatures.exists(_.contains("v2Checkpoint"))
    if (useV2) {
      // idempotence: any manifest for this version counts
      val prefix = f"$version%020d.checkpoint."
      val exists = t.fs.exists(t.logDir) && t.fs.listStatus(t.logDir).exists { s =>
        val n = s.getPath.getName
        n.startsWith(prefix) && n != s"${prefix}parquet"
      }
      if (!exists) writeV2Checkpoint(t, snap)
    } else {
      val target = new Path(t.logDir, f"$version%020d.checkpoint.parquet")
      if (t.fs.exists(target)) return
      writeCheckpoint(t, snap, target)
    }
  } catch {
    // post-commit checkpointing is best-effort, like delta-spark's: the
    // commit already landed, and surfacing a transient checkpoint
    // failure would make a SUCCEEDED write look failed — a retrying
    // caller without txn dedup would then duplicate data. The next
    // interval-hitting commit re-attempts.
    case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"DeltaWriter: checkpoint at version $version failed " +
          s"(commit is safe; will retry at the next interval): $e")
  }

  /** The checkpoint rows of `snap`, in [[DeltaReader]]'s action
    * schema (whose `txn` column third-party readers expect to find). */
  private[sources] def checkpointRows(t: TableRoot, snap: DeltaReader.DeltaSnapshot)
      : (Seq[org.apache.spark.sql.Row], StructType) = {
    import org.apache.spark.sql.Row
    val schema = DeltaReader.actionSchema
    // absolute paths OUTSIDE the table root are legal in the log
    // (shallow clones, `p`-mode imports); a checkpoint must carry them
    // through as absolute URIs, not refuse the whole checkpoint
    def rel(p: String): String = t.relOrAbs(new Path(p))
    val protoRow = Row(null, null, null, null, null, Row(
      snap.protocol.minReaderVersion, snap.protocol.minWriterVersion,
      snap.protocol.readerFeatures.orNull,
      snap.protocol.writerFeatures.orNull))
    val metaRow = Row(null, null, null, null, Row(
      snap.tableId, Row("parquet", Map.empty[String, String]),
      snap.schema.json, snap.partitionColumns, snap.configuration,
      snap.createdTime.map(Long.box).orNull), null)
    // the protocol requires dataChange = false on EVERY checkpoint
    // action: replaying one must not look like new data to streams
    val addRows = snap.files.map { f =>
      Row(null, Row(rel(f.path), f.partitionValues, f.size,
        f.modificationTime, false,
        f.deletionVector.map(d => Row(d.storageType, d.pathOrInlineDv,
          d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality))
          .orNull, f.stats.orNull,
        f.baseRowId.map(Long.box).orNull,
        f.defaultRowCommitVersion.map(Long.box).orNull,
        if (f.tags.isEmpty) null else f.tags),
        null, null, null, null)
    }
    val removeRows = snap.tombstones.map { case (p, ts) =>
      Row(null, null, Row(rel(p), ts, false), null, null, null)
    }
    // live domainMetadata (e.g. delta.rowTracking's high watermark)
    // must survive checkpoint-anchored replay like everything else
    val domainRows = snap.domainMetadata.toSeq.sortBy(_._1).map {
      case (dom, conf) =>
        Row(null, null, null, Row(dom, conf, false), null, null)
    }
    // SetTransaction watermarks must survive checkpoint-anchored
    // replay, or a restarted idempotent writer would re-commit every
    // batch the vacuumed tail once recorded
    val txnRows = snap.txns.toSeq.sortBy(_._1).map { case (app, v) =>
      Row(Row(app, v, null), null, null, null, null, null)
    }
    ((protoRow +: metaRow +: (txnRows ++ domainRows ++ addRows)) ++
      removeRows, schema)
  }

  /** Land `rows` as ONE parquet file at exactly `target`, written on
    * the driver (where the rows already live) through Spark's own
    * parquet output writer, so the file carries the footer schema and
    * metadata a `coalesce(1)` Spark write of the same rows would. No
    * Spark job runs. Writes a temp file and renames it in; returns
    * false when `target` appeared concurrently. */
  private def landSingleParquet(fs: FileSystem, logDir: Path,
                                rows: Seq[org.apache.spark.sql.Row],
                                schema: StructType, target: Path)
                               (implicit spark: SparkSession): Boolean = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
    val tmp = new Path(logDir, s".tmp-cp-${java.util.UUID.randomUUID}.parquet")
    val sqlConf = spark.sessionState.conf
    val job = org.apache.hadoop.mapreduce.Job.getInstance(fs.getConf)
    val writer = ParquetUtils.prepareWrite(sqlConf, job, schema,
        new ParquetOptions(Map.empty[String, String], sqlConf))
      .newInstance(tmp.toString, schema,
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID()))
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    try {
      try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
      finally writer.close()
      fs.mkdirs(target.getParent)
      !fs.exists(target) && fs.rename(tmp, target)
    } finally fs.delete(tmp, false)
  }

  private def writeLastCheckpoint(fs: FileSystem, logDir: Path,
                                  version: Long, size: Int): Unit = {
    // pointer for readers that trust it; ours discovers by listing
    val lc = new Path(logDir, "_last_checkpoint")
    val out = fs.create(lc, true)
    try out.write(s"""{"version":$version,"size":$size}\n""".getBytes("UTF-8"))
    finally out.close()
  }

  private def writeCheckpoint(t: TableRoot, snap: DeltaReader.DeltaSnapshot,
                              target: Path)
                             (implicit spark: SparkSession): Unit = {
    val (rows, schema) = checkpointRows(t, snap)
    if (landSingleParquet(t.fs, t.logDir, rows, schema, target))
      writeLastCheckpoint(t.fs, t.logDir, snap.version, rows.size)
  }

  /** Write a V2 checkpoint (PROTOCOL.md "V2 Spec Checkpoints"): the
    * file actions land in ONE parquet sidecar under
    * `_delta_log/_sidecars/`, the UUID-named manifest carries
    * checkpointMetadata + the non-file actions + the sidecar
    * pointer. Chosen by `delta.checkpointPolicy = "v2"` — and only
    * when the protocol already declares the `v2Checkpoint` feature
    * (writing one onto a classic table would strand old readers). */
  private def writeV2Checkpoint(t: TableRoot, snap: DeltaReader.DeltaSnapshot)
                               (implicit spark: SparkSession): Unit = {
    val (fs, logDir) = (t.fs, t.logDir)
    val (rows, schema) = checkpointRows(t, snap)
    // row layout: (txn, add, remove, domainMetadata, metaData,
    // protocol) — the file/non-file split below keys on add/remove at
    // positions 1/2; domainMetadata rows are manifest (non-file) state
    val (fileRows, otherRows) =
      rows.partition(r => r.get(1) != null || r.get(2) != null)
    val sidecarName = s"${java.util.UUID.randomUUID}.parquet"
    val sidecarPath = new Path(new Path(logDir, "_sidecars"), sidecarName)
    if (!landSingleParquet(fs, logDir, fileRows, schema, sidecarPath)) return
    val st = fs.getFileStatus(sidecarPath)
    val (mRows, mSchema) = v2ManifestRows(otherRows, schema, snap.version,
      sidecarName, st.getLen, st.getModificationTime)
    val manifest = new Path(logDir,
      f"${snap.version}%020d.checkpoint.${java.util.UUID.randomUUID}.parquet")
    landSingleParquet(fs, logDir, mRows, mSchema, manifest)
    // NO `_last_checkpoint` pointer for v2 checkpoints: its classic
    // {version,size} shape would send pointer-trusting readers to a
    // `<v>.checkpoint.parquet` that does not exist. Listing-based
    // discovery (what this reader and every v2-aware engine does)
    // finds the UUID manifest without it.
  }

  /** A v2 manifest's rows and schema: the checkpoint's non-file rows,
    * then checkpointMetadata, then the pointer to the landed sidecar. */
  private[sources] def v2ManifestRows(otherRows: Seq[org.apache.spark.sql.Row],
      schema: StructType, version: Long, sidecarName: String,
      sidecarBytes: Long, sidecarMtime: Long)
      : (Seq[org.apache.spark.sql.Row], StructType) = {
    import org.apache.spark.sql.Row
    val mSchema = StructType(schema.fields ++ Seq(
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType))))))
    val nBase = schema.fields.length
    (otherRows.map(r => Row.fromSeq(r.toSeq ++ Seq(null, null))) ++ Seq(
      Row.fromSeq(Seq.fill[Any](nBase)(null) :+ Row(version) :+ null),
      Row.fromSeq(Seq.fill[Any](nBase + 1)(null) :+
        Row(sidecarName, sidecarBytes, sidecarMtime))), mSchema)
  }

  /** Table-relative RFC-2396-percent-encoded path — the form the log
    * stores; [[DeltaReader]] decodes it back on replay. */
  private def relEncode(basePath: String, p: Path): String = {
    val full = p.toUri.getPath
    require(full.startsWith(basePath + "/"),
      s"DeltaWriter: file $full lies outside the table at $basePath")
    new java.net.URI(null, null,
      full.substring(basePath.length + 1), null).getRawPath
  }

  /** Land `df`'s rows as new parquet fragments under the table
    * (filesystem-level append — "overwrite"/"replace" semantics live
    * in the LOG), identified by a before/after listing diff of
    * exactly the touched partition directories. Touched partitions
    * come from the frame itself (bounded by partition cardinality);
    * values must be path-literal so the directory name IS the logged
    * value (the HiveDataset contract). */
  private[sources] def isNestedType(dt: DataType): Boolean = dt match {
    case _: StructType => true
    case ArrayType(et, _) => isNestedType(et)
    case MapType(k, v, _) => isNestedType(k) || isNestedType(v)
    case _ => false
  }

  /** Highest allocated column-mapping id: the configuration's
    * `delta.columnMapping.maxColumnId`, or — foreign tables that
    * omit the key — the max `delta.columnMapping.id` stamped on a
    * field. New allocations (schema evolution on mapped tables) go
    * strictly above this. */
  private[sources] def maxColumnIdOf(snap: DeltaReader.DeltaSnapshot): Long = {
    val fromConf = snap.configuration.get("delta.columnMapping.maxColumnId")
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(0L)
    // recurse: nested mapped fields carry their own ids, and a foreign
    // table's highest id can sit on an inner struct field — a
    // top-level-only scan would allocate a colliding id on evolution
    def maxStamped(dt: DataType): Long = dt match {
      case st: StructType => st.fields.foldLeft(0L) { (acc, f) =>
        val own = if (f.metadata.contains("delta.columnMapping.id"))
          f.metadata.getLong("delta.columnMapping.id") else 0L
        math.max(acc, math.max(own, maxStamped(f.dataType)))
      }
      case ArrayType(et, _) => maxStamped(et)
      case MapType(k, v, _) => math.max(maxStamped(k), maxStamped(v))
      case _ => 0L
    }
    math.max(fromConf, maxStamped(snap.schema))
  }

  /** `f` with nullability relaxed to true at EVERY level, metadata
    * kept — the shape of an evolution-added column, whose
    * pre-evolution rows all null-fill. Delegates to the READER's
    * [[DeltaReader.relaxNullability]] so the evolved schema and the
    * reader's cast target can never diverge. */
  private[sources] def relaxNullability(f: StructField): StructField =
    f.copy(dataType = DeltaReader.relaxNullability(f.dataType),
      nullable = true)

  /** Stamp `f` — and, pre-order, every nested struct field under it —
    * with a fresh `delta.columnMapping.physicalName` (col-<uuid>, the
    * delta-spark convention) and a `delta.columnMapping.id` drawn
    * from `next`: the allocation a NEW column arriving by mergeSchema
    * evolution on a column-mapped table needs at every nesting level
    * (array elements and map keys/values recurse; only struct fields
    * carry ids, per the column-mapping protocol). */
  private[sources] def stampMappedField(f: StructField,
                                        next: () => Long): StructField = {
    def stampType(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(stampField))
      case ArrayType(et, n) => ArrayType(stampType(et), n)
      case MapType(k, v, n) => MapType(stampType(k), stampType(v), n)
      case other => other
    }
    def stampField(inner: StructField): StructField = {
      val id = next() // pre-order: the field's id precedes its children's
      inner.copy(
        metadata = new MetadataBuilder().withMetadata(inner.metadata)
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID}")
          .build(),
        dataType = stampType(inner.dataType))
    }
    stampField(f)
  }

  /** Column-mapping write support (modes `name` and `id`): logical
    * name → (physical name, optional column-mapping id) for the
    * land-time rename. Nested fields rewrite via [[physTypesFor]]'s
    * positional struct cast. */
  private def physColumnsFor(snap: DeltaReader.DeltaSnapshot, verb: String)
      : Map[String, (String, Option[Long])] = {
    if (snap.physicalSchema.isEmpty) return Map.empty
    snap.schema.fields.zip(snap.physicalSchema.get.fields).map {
      case (lf, pf) =>
        lf.name -> ((pf.name,
          if (lf.metadata.contains("delta.columnMapping.id"))
            Some(lf.metadata.getLong("delta.columnMapping.id")) else None))
    }.toMap
  }

  /** Physical TARGET types for the NESTED mapped columns (logical
    * name → the physical schema's recursively-renamed type): the
    * land-time rewrite casts each such column to this type — a
    * positional struct cast renames inner fields exactly the way the
    * reader's physical→logical cast renames them back, and in id mode
    * the target type's `parquet.field.id` field metadata rides into
    * the landed footer. Flat columns need no cast (rename only). */
  private def physTypesFor(snap: DeltaReader.DeltaSnapshot)
      : Map[String, DataType] =
    snap.physicalSchema.map { ps =>
      snap.schema.fields.zip(ps.fields).collect {
        case (lf, pf) if isNestedType(lf.dataType) => lf.name -> pf.dataType
      }.toMap
    }.getOrElse(Map.empty)

  private def landFiles(fs: FileSystem, qualifiedBase: Path, cleanUrl: String,
                        df: DataFrame, partitionColumns: Seq[String],
                        phys: Map[String, (String, Option[Long])] = Map.empty,
                        physTypes: Map[String, DataType] = Map.empty)
      : Seq[(Seq[(String, String)], Path)] = {
    // under column mapping the log's partitionValues keys, the
    // directory names AND the parquet column names are all PHYSICAL
    // (the protocol's writer requirement); `id`-mode files
    // additionally carry parquet field ids, attached here as
    // parquet.field.id metadata the Spark writer honors
    def physName(c: String): String = phys.get(c).map(_._1).getOrElse(c)
    // nested mapped columns cast to their PHYSICAL type first: the
    // positional struct cast renames inner fields (the inverse of the
    // reader's physical→logical cast), and in id mode the target
    // type's parquet.field.id metadata rides into the landed footer
    def inner(c: String): org.apache.spark.sql.Column =
      physTypes.get(c).map(col(c).cast).getOrElse(col(c))
    val dfPhys =
      if (phys.isEmpty) df
      else df.select(df.columns.map { c =>
        phys.get(c) match {
          case Some((p, Some(id))) => inner(c).as(p,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", id).build())
          case Some((p, None)) => inner(c).as(p)
          case None => col(c)
        }
      }.toSeq: _*)
    val physPartitionCols = partitionColumns.map(physName)

    // ONE distributed write into a PRIVATE staging directory, then a
    // per-file rename into place. Writing straight into the table dir
    // would share Spark's `_temporary/<jobAttempt>` staging between
    // CONCURRENT writers of the same table — one job's commit/abort
    // deletes the other's in-flight task files (the classic
    // FileOutputCommitter collision; delta-spark sidesteps it the
    // same way, by never letting the committer own the table dir).
    // The staging name carries no leading `_`/`.` on purpose: readers
    // only ever open files the log names, and a crash-orphaned
    // staging tree must stay VISIBLE to vacuum's walk so it ages out.
    // The touched partitions, their values and the path-literal checks
    // come from the staged listing: `df` is evaluated once, by the write.
    val staging = new Path(qualifiedBase,
      s"staging-${java.util.UUID.randomUUID}")
    try {
      val writer = dfPhys.write.mode("append").option("compression", "snappy")
      (if (physPartitionCols.nonEmpty)
        writer.partitionBy(physPartitionCols: _*)
       else writer).parquet(staging.toString)
      require(fs.exists(staging),
        "DeltaWriter: write produced no output directory (concurrent cleanup?)")
      PathUtils.stagedPartitions(fs, staging, physPartitionCols, "DeltaWriter: ").flatMap {
        case (kvs, files) =>
          val finalDir = kvs.foldLeft(qualifiedBase) { case (p, (c, v)) => new Path(p, s"$c=$v") }
          fs.mkdirs(finalDir)
          files.map { st =>
            val dest = new Path(finalDir, st.getPath.getName)
            // task-UUID part names cannot collide across writers
            require(fs.rename(st.getPath, dest),
              s"DeltaWriter: could not move staged file ${st.getPath} into $finalDir")
            (kvs, dest)
          }
      }
    } finally fs.delete(staging, true)
  }

  /** Atomic exclusive publish of `_delta_log/<v>.json` — POSIX
    * link(2) on `file://`, exists-check + rename elsewhere (the
    * [[LogStores]] seam). */
  private def publishCommit(fs: FileSystem, logDir: Path, version: Long,
                            body: String): Boolean = {
    fs.mkdirs(logDir)
    val target = new Path(logDir, f"$version%020d.json")
    val tmp = new Path(logDir, s"_tmp-${java.util.UUID.randomUUID}.json")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    LogStores.putIfAbsent(fs, tmp, target)
  }
}
