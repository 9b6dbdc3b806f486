package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Read-only reader for Delta Lake tables via the PUBLIC transaction-
  * log protocol (delta.io PROTOCOL.md) — no delta jars required.
  *
  * The reference's `DeltaDataset` reads real Delta tables
  * (/root/reference/polario/delta_dataset.py:41-62: `read_partition`
  * via partition filters, `scan` returning None for a missing table).
  * This object is the read half of the repo's one transaction log
  * ([[DeltaWriter]] is the write half, [[ManagedDataset]] a
  * dataset view over both), and reads tables other Delta writers
  * wrote just the same: it replays `_delta_log/` into a snapshot
  * file list and hands the files to the ordinary parquet reader.
  *
  * Protocol subset implemented (all public, from PROTOCOL.md):
  *  - commit files `_delta_log/<20-digit version>.json`, one action
  *    object per line: `add`, `remove`, `metaData`, `protocol` (other
  *    actions — txn/commitInfo/cdc/domainMetadata — carry no
  *    snapshot-file state and are ignored);
  *  - parquet checkpoints `<v>.checkpoint.parquet` and multi-part
  *    `<v>.checkpoint.<i>.<n>.parquet` (discovered by listing, so a
  *    missing/stale `_last_checkpoint` pointer never breaks replay),
  *    plus V2 checkpoints (`v2Checkpoint` reader feature): UUID-named
  *    `<v>.checkpoint.<id>.{json|parquet}` manifests whose file
  *    actions live inline or in parquet sidecars under
  *    `_delta_log/_sidecars/`, `checkpointMetadata.version` validated
  *    against the file name;
  *  - snapshot state: for each data-file path the action from the
  *    HIGHEST version wins (the protocol forbids add+remove of one
  *    path inside a single commit), survivors are the `add`s;
  *  - the latest `metaData` supplies the logical schema
  *    (`schemaString` is Spark's own StructType JSON — public spec)
  *    and the partition columns, whose values live ONLY in the log
  *    (injected as typed literal columns at read, like
  *    [[HiveDataset]] P4);
  *  - column mapping in `name` mode (reader protocol 2, or 3 with
  *    the `columnMapping` reader feature): the logical schema's
  *    `delta.columnMapping.physicalName` field metadata renames the
  *    parquet scan, and partition values are resolved under the
  *    PHYSICAL key (the protocol's writer requirement) with a
  *    logical-key fallback for writers that never renamed them; in
  *    `id` mode the `delta.columnMapping.id` field metadata rides
  *    into the scan as `parquet.field.id`, so columns resolve by
  *    parquet FIELD ID (Spark's native field-id matching) — stored
  *    parquet names carry no meaning, exactly the id-mode contract;
  *  - deletion vectors (the `deletionVectors` reader feature, on by
  *    default on Databricks-written tables): `add.deletionVector`
  *    descriptors in all three storage modes (`u` sidecar by Z85
  *    UUID, `p` absolute path, `i` inline) decode through
  *    [[DeletionVectors]] on EXECUTORS and anti-join the scan on
  *    `(_metadata.file_path, _metadata.row_index)` — deleted rows
  *    never reach the caller, and a corrupt bitmap raises (CRC)
  *    instead of resurrecting rows;
  *  - anything else the table declares it needs — any unrecognized
  *    mapping mode, reader feature or version — raises loudly rather
  *    than mis-reading.
  *
  * Scale shape (100 TB): a log whose newest usable classic checkpoint
  * plus JSON tail fit under [[FastReplayMaxBytes]] replays on the
  * driver with zero Spark jobs; past that (or when a v2 manifest
  * anchors), the log replay is ONE distributed
  * `spark.read.json` over the commit files (+ one parquet read of the
  * newest checkpoint ≤ the requested version) and one path-keyed
  * max-version aggregation — a multi-year log with tens of thousands
  * of commits replays as a single shuffle on file-count-sized data.
  * Only the surviving file LIST collects to the driver (every Delta
  * reader materializes this to plan a scan — it is metadata, bounded
  * by file count, never row count). The data read itself is plain
  * parquet scans grouped by partition, so Catalyst pushdown/pruning
  * apply downstream untouched.
  */
object DeltaReader {

  /** A deletion-vector descriptor exactly as the log carries it
    * (PROTOCOL.md "Deletion Vector Descriptor Schema"): storage `u`
    * (relative file, Z85 UUID name), `p` (absolute path), or `i`
    * (inline Z85 payload). `offset` points at the frame's size word
    * inside the DV file; `sizeInBytes` is the serialized bitmap
    * length; `cardinality` the deleted-row count. */
  final case class DvDescriptor(
      storageType: String,
      pathOrInlineDv: String,
      offset: Option[Int],
      sizeInBytes: Int,
      cardinality: Long)

  /** One surviving data file: absolute path + its partition values
    * (string-encoded, as the log stores them; null = null value).
    * `size`/`modificationTime` ride along for checkpoint writing;
    * a present `deletionVector` masks row indexes at scan time;
    * `stats` is the add action's per-file statistics JSON
    * (`numRecords`/`minValues`/`maxValues`/`nullCount`) verbatim —
    * the data-skipping input [[scanPruned]] consumes; `tags` the add
    * action's string tags (e.g. [[BloomTags]]), carried verbatim. */
  final case class DeltaFile(path: String, partitionValues: Map[String, String],
      size: Long = 0L, modificationTime: Long = 0L,
      deletionVector: Option[DvDescriptor] = None,
      stats: Option[String] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None,
      tags: Map[String, String] = Map.empty)

  /** The newest protocol action's content (defaults = a pre-features
    * protocol-1 table). Carried so checkpoint writers reproduce the
    * declared feature sets verbatim. */
  final case class DeltaProtocol(minReaderVersion: Int, minWriterVersion: Int,
      readerFeatures: Option[Seq[String]] = None,
      writerFeatures: Option[Seq[String]] = None)

  /** Reconstructed table state at one version. `physicalSchema` is
    * defined only under column mapping: the same shape as `schema`
    * field-for-field, with every name replaced by its
    * `delta.columnMapping.physicalName` (parquet files store THESE
    * names; `schema` stays the user-facing truth). `tableId` /
    * `configuration` / `createdTime` / `protocol` / `tombstones`
    * (latest-action-is-remove paths with their deletionTimestamp)
    * carry the full state a checkpoint must reproduce. */
  final case class DeltaSnapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      files: Seq[DeltaFile],
      physicalSchema: Option[StructType] = None,
      tableId: String = "",
      configuration: Map[String, String] = Map.empty,
      createdTime: Option[Long] = None,
      protocol: DeltaProtocol = DeltaProtocol(1, 2),
      tombstones: Seq[(String, Long)] = Seq.empty,
      root: String = "",
      txns: Map[String, Long] = Map.empty,
      domainMetadata: Map[String, String] = Map.empty)

  /** `dt` with nullability relaxed at every level, field metadata
    * kept — the cast target shape for physical→logical renames (scan
    * output is always nullable; a NOT NULL inner field would make the
    * cast refuse) AND the writer's evolved-column normalization
    * ([[DeltaWriter.relaxNullability]] delegates here so the two
    * can never diverge). */
  private[sources] def relaxNullability(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
    case ArrayType(et, _) => ArrayType(relaxNullability(et), containsNull = true)
    case MapType(k, v, _) =>
      MapType(relaxNullability(k), relaxNullability(v),
        valueContainsNull = true)
    case other => other
  }

  private def physicalFieldName(f: StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** Recursively rename a logical type to its physical shape. */
  private def toPhysical(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      StructField(physicalFieldName(f), toPhysical(f.dataType), f.nullable)))
    case ArrayType(et, n) => ArrayType(toPhysical(et), n)
    case MapType(k, v, n) => MapType(toPhysical(k), toPhysical(v), n)
    case other => other
  }

  /** Physical shape for `id` mapping mode: names from physicalName
    * like name mode, but every field additionally tagged with
    * `parquet.field.id` (= its `delta.columnMapping.id`) so Spark's
    * parquet reader resolves columns by FIELD ID — the id-mode
    * contract: the parquet files' stored names carry no meaning, the
    * ids are authoritative. A field without an id is a malformed
    * id-mode table and raises. */
  private def toPhysicalIds(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map { f =>
      if (!f.metadata.contains("delta.columnMapping.id"))
        throw new IllegalStateException(
          s"DeltaReader: id-mode table field '${f.name}' lacks " +
            "delta.columnMapping.id — malformed column-mapping metadata")
      val md = new MetadataBuilder()
        .putLong("parquet.field.id",
          f.metadata.getLong("delta.columnMapping.id"))
        .build()
      StructField(physicalFieldName(f), toPhysicalIds(f.dataType),
        f.nullable, md)
    })
    case ArrayType(et, n) => ArrayType(toPhysicalIds(et), n)
    case MapType(k, v, n) => MapType(toPhysicalIds(k), toPhysicalIds(v), n)
    case other => other
  }

  /** The physical read schema a table's column-mapping mode implies —
    * None for mode=none, renamed for `name`, renamed + field-id-tagged
    * for `id` (shared by [[snapshotAt]] and [[DeltaChanges]]'s
    * incremental replay, so both derive identical scan shapes). */
  private[sources] def physicalSchemaFor(schema: StructType,
      tableConf: Map[String, String])
      (implicit spark: SparkSession): Option[StructType] =
    tableConf.getOrElse("delta.columnMapping.mode", "none") match {
      case "none" => None
      case "name" => Some(toPhysical(schema).asInstanceOf[StructType])
      case "id" =>
        // Spark matches parquet columns by field id only when this
        // conf is on AND the requested schema carries
        // parquet.field.id — safe to leave on session-wide
        // (id-less read schemas still match by name)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        Some(toPhysicalIds(schema).asInstanceOf[StructType])
      case other => throw new UnsupportedOperationException(
        s"DeltaReader: column mapping mode '$other' unsupported " +
          "(none/name/id only)")
    }

  private[sources] val CommitName = """(\d{20})\.json""".r
  private[sources] val CheckpointName =
    """(\d{20})\.checkpoint(\.\d{10}\.\d{10})?\.parquet""".r
  // v2 checkpoints (the `v2Checkpoint` reader feature): one
  // UUID-named manifest per attempt. The single `[A-Za-z0-9_-]+`
  // segment cannot collide with classic multi-part names — those
  // carry TWO dot-separated numeric parts before `.parquet`.
  private[sources] val V2CheckpointName =
    """(\d{20})\.checkpoint\.([A-Za-z0-9_-]+)\.(json|parquet)""".r

  /** Every COMPLETE classic checkpoint in one `_delta_log` listing,
    * version → the part files that hold its state. A multi-part
    * checkpoint counts iff all N declared parts landed — a foreign
    * writer's partial landing (crash mid-upload) must be ignored, not
    * replayed as truncated state (delta-spark's checkpoint selection
    * does the same). When a single-file checkpoint coexists with a
    * multi-part landing at the same version, only the single file is
    * returned: mixing in stray parts would duplicate rows. Anchor
    * choice and part selection come from the same listing, so a
    * checkpoint landing mid-replay cannot make them disagree. */
  private[sources] def completeClassicCheckpoints(statuses: Seq[FileStatus])
      : Map[Long, Seq[FileStatus]] =
    statuses.flatMap { st =>
      st.getPath.getName match {
        case CheckpointName(v, suffix) => Some((v.toLong, Option(suffix), st))
        case _ => None
      }
    }.groupBy(_._1).flatMap { case (v, found) =>
      val (single, multi) = found.partition(_._2.isEmpty)
      // suffix `.PPPPPPPPPP.NNNNNNNNNN` = part P of N
      val parts = multi.map { case (_, s, _) =>
        val p = s.get.stripPrefix(".").split("\\.")
        (p(0).toInt, p(1).toInt)
      }
      if (single.nonEmpty) Some(v -> single.map(_._3))
      else if (parts.map(_._2).distinct.sizeIs == 1 &&
          parts.map(_._1).toSet == (1 to parts.head._2).toSet)
        Some(v -> multi.map(_._3).sortBy(_.getPath.getName))
      else None
    }

  /** The action schema commit JSON is parsed with and checkpoints
    * are written in — explicit: inference over a long log would cost
    * a pre-pass and could widen types. */
  private val dvSchema = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  private[sources] val actionSchema = StructType(Seq(
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType),
      StructField("lastUpdated", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("deletionVector", dvSchema),
      StructField("stats", StringType),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType),
      StructField("tags", MapType(StringType, StringType))))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("domainMetadata", StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType)))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType)))))))

  /** The one normalized projection both log sources (JSON commits and
    * parquet checkpoints) flatten into before replay. */
  private def normalizeActions(df: DataFrame): DataFrame = df.select(
    col("txn.appId").as("__txn_app"),
    col("txn.version").as("__txn_v"),
    col("add.path").as("__add_path"),
    col("add.partitionValues").as("__add_pv"),
    col("add.size").as("__add_size"),
    col("add.modificationTime").as("__add_mt"),
    col("add.deletionVector").as("__add_dv"),
    col("add.stats").as("__add_stats"),
    col("add.baseRowId").as("__add_brid"),
    col("add.defaultRowCommitVersion").as("__add_drcv"),
    col("add.tags").as("__add_tags"),
    col("remove.path").as("__rm_path"),
    col("remove.deletionTimestamp").as("__rm_ts"),
    col("domainMetadata.domain").as("__dm_domain"),
    col("domainMetadata.configuration").as("__dm_conf"),
    col("domainMetadata.removed").as("__dm_removed"),
    col("metaData.id").as("__mid"),
    col("metaData.schemaString").as("__schema"),
    col("metaData.partitionColumns").as("__pcols"),
    col("metaData.format.provider").as("__provider"),
    col("metaData.configuration").as("__conf"),
    col("metaData.createdTime").as("__mct"),
    col("protocol.minReaderVersion").as("__min_reader"),
    col("protocol.minWriterVersion").as("__min_writer"),
    col("protocol.readerFeatures").as("__feats"),
    col("protocol.writerFeatures").as("__wfeats"),
    col("__v"))

  /** Replay a v2 checkpoint (PROTOCOL.md "V2 Spec Checkpoints"): the
    * UUID-named manifest holds exactly one `checkpointMetadata`
    * action (whose version must equal the file-name version — a
    * mismatch means a corrupt or misplaced manifest), the non-file
    * actions (protocol / metaData / txn), and EITHER inline
    * add/remove actions or `sidecar` pointers to parquet files under
    * `_delta_log/_sidecars/` carrying them. Returns the checkpoint's
    * actions in [[normalizeActions]] shape, tagged `__v = v`.
    *
    * Scale shape: the manifest is one file (json or parquet); only
    * the SIDECAR PATH LIST collects to the driver (sidecar count —
    * metadata, like every planner's file list), and the sidecars
    * themselves are read as one distributed parquet scan. */
  private def readV2Checkpoint(logDir: Path, v: Long, name: String)
                              (implicit spark: SparkSession): DataFrame = {
    val v2Schema = StructType(actionSchema.fields ++ Seq(
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType))))))
    val manifestPath = new Path(logDir, name).toString
    val manifest =
      (if (name.endsWith(".json")) spark.read.schema(v2Schema).json(manifestPath)
       else spark.read.schema(v2Schema).parquet(manifestPath))
        .localCheckpoint() // read once, consulted three times below
    val cpMeta = manifest
      .where(col("checkpointMetadata").isNotNull)
      .select(col("checkpointMetadata.version")).collect()
    require(cpMeta.length == 1 && cpMeta.head.getLong(0) == v,
      s"DeltaReader: v2 checkpoint $name must carry exactly one " +
        s"checkpointMetadata action with version $v (found " +
        s"${cpMeta.map(_.getLong(0)).mkString("[", ",", "]")})")
    val sidecars = manifest.where(col("sidecar.path").isNotNull)
      .select(col("sidecar.path")).collect().map(_.getString(0)).sorted
    val sidecarDir = new Path(logDir, "_sidecars")
    val sidecarPaths = sidecars.map { p =>
      val uri = new java.net.URI(p)
      (if (uri.isAbsolute) new Path(uri) else new Path(sidecarDir, p)).toString
    }
    val manifestActions = normalizeActions(manifest.withColumn("__v", lit(v)))
    val sidecarActions =
      if (sidecarPaths.isEmpty) None
      else Some(normalizeActions(
        spark.read.schema(actionSchema).parquet(sidecarPaths.toSeq: _*)
          .withColumn("__v", lit(v))))
    (Seq(manifestActions) ++ sidecarActions).reduce(_ unionByName _)
  }

  /** Latest snapshot, or None when `url` holds no Delta table
    * (mirrors delta_dataset.py:56-62 scan() → None on
    * TableNotFoundError). */
  def snapshot(url: String)(implicit spark: SparkSession): Option[DeltaSnapshot] =
    snapshotAt(url, None)

  /** Per-path survivor state after replay, before snapshot assembly —
    * the ONE shape both replay paths (distributed and driver-side)
    * reduce to, so everything downstream (path resolution, DV
    * validation, tombstones) is shared code. */
  private final case class LatestPath(path: String, isAdd: Boolean,
      pv: Map[String, String], size: Long, mt: Long,
      dv: Option[DvDescriptor], rmTs: Long, stats: Option[String],
      baseRowId: Option[Long] = None, drcv: Option[Long] = None,
      tags: Map[String, String] = Map.empty)

  private final case class MetaVals(schemaJson: String, pcols: Seq[String],
      provider: String, conf: Map[String, String], id: String,
      created: Option[Long])

  /** The protocol gate both replay paths run: v1 = base; v2 = column
    * mapping (handled); v3 = table features — readable only when
    * every declared reader feature is implemented (an ABSENT feature
    * list on a v3 table is malformed: raise, since what the table
    * needs is unknowable). */
  private def checkProtocolReadable(protocolInfo: DeltaProtocol): Unit = {
    val mr = protocolInfo.minReaderVersion
    val supported = Set("columnMapping", "deletionVectors", "v2Checkpoint",
      // features with no reader-visible data-path semantics: the
      // timestamp type and stats collection don't change replay
      "timestampNtz",
      // type widening: old files store the NARROWER type; the scan
      // requests the latest (widened) schema and Spark's parquet
      // reader applies the protocol's widening promotions
      // (int→long, int/float→double, decimal growth) natively —
      // spec-pinned in DeltaTypeWideningSpec. WRITES to such tables
      // stay refused (enforceWritable: not a supported writer
      // feature).
      "typeWidening", "typeWidening-preview")
    val unreadable = mr match {
      case v if v <= 2 => None
      case 3 => protocolInfo.readerFeatures.map(_.toSet) match {
        case Some(f) if (f -- supported).isEmpty => None
        case Some(f) => Some((f -- supported).toSeq.sorted.mkString(", "))
        case None => Some("an undeclared feature set")
      }
      case _ => Some("a protocol version past 3")
    }
    unreadable.foreach { why =>
      throw new UnsupportedOperationException(
        s"DeltaReader: table requires reader protocol $mr with $why — " +
          "this reader implements protocol 1/2 plus the columnMapping " +
          "(name mode), deletionVectors and v2Checkpoint features")
    }
  }

  /** Assemble the snapshot from the replay's reduced state — shared
    * by both paths so they cannot diverge past the reduction. */
  private def finishSnapshot(target: Long, logDir: Path,
      qualifiedBase: Path, protocolInfo: DeltaProtocol,
      metaOpt: Option[MetaVals], latest: Seq[LatestPath],
      txns: Map[String, Long],
      domains: Map[String, String] = Map.empty)
      (implicit spark: SparkSession): Option[DeltaSnapshot] = {
    checkProtocolReadable(protocolInfo)
    val meta = metaOpt.getOrElse(throw new IllegalStateException(
      s"DeltaReader: no metaData action found in $logDir — not a valid Delta log"))
    if (meta.provider != "parquet")
      throw new UnsupportedOperationException(
        s"DeltaReader: format provider '${meta.provider}' unsupported (parquet only)")
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val physSchema = physicalSchemaFor(schema, meta.conf)
    def absPath(raw: String): String = {
      // paths are RFC 2396 URL-encoded and usually relative to the
      // table root; absolute URIs are legal and used as-is
      val uri = new java.net.URI(raw)
      val p = new Path(uri)
      (if (uri.isAbsolute) p else new Path(qualifiedBase, p)).toString
    }
    val files = latest.filter(_.isAdd).map { l =>
      l.dv.foreach { d =>
        require(d.storageType != null && d.pathOrInlineDv != null,
          s"DeltaReader: malformed deletionVector descriptor on ${l.path}")
      }
      DeltaFile(absPath(l.path), l.pv, l.size, l.mt, l.dv, l.stats,
        l.baseRowId, l.drcv, l.tags)
    }.sortBy(_.path)
    val tombstones = latest.filterNot(_.isAdd)
      .map(l => (absPath(l.path), l.rmTs)).sortBy(_._1)
    Some(DeltaSnapshot(target, schema, meta.pcols, files, physSchema,
      meta.id, meta.conf, meta.created, protocolInfo, tombstones,
      qualifiedBase.toString, txns, domains))
  }

  /** Total bytes — the anchoring classic checkpoint's parts plus the
    * JSON tail after it — under which a log replays DRIVER-SIDE
    * (parquet-mr checkpoint read + Jackson commit parse, zero Spark
    * jobs) instead of through the distributed reader. Every
    * write/scan round trip costs several snapshot resolutions; at
    * this size the log is far smaller than one task's scheduling
    * overhead. The distributed path remains the one a multi-MiB or
    * v2-checkpoint-anchored log takes — and the parity spec pins the
    * two paths field-identical. */
  private[sources] val FastReplayMaxBytes: Long = 4L * 1024 * 1024

  /** Snapshot as of `version` (time travel); None when the table does
    * not exist, loud error when the requested version is unreachable
    * (past the log head, or its commits are vacuumed away). */
  def snapshotAt(url: String, asOfVersion: Option[Long])
                (implicit spark: SparkSession): Option[DeltaSnapshot] =
    snapshotAtImpl(url, asOfVersion, forceDistributed = false)

  private[sources] def snapshotAtImpl(url: String, asOfVersion: Option[Long],
                                      forceDistributed: Boolean)
                (implicit spark: SparkSession): Option[DeltaSnapshot] = {
    val cleanUrl = url.stripSuffix("/")
    val logDir = new Path(cleanUrl, "_delta_log")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs: FileSystem = logDir.getFileSystem(hadoopConf)
    if (!fs.exists(logDir)) return None
    val statuses = fs.listStatus(logDir).toSeq
    val entries = statuses.map(_.getPath.getName)
    val commits = entries.collect { case CommitName(v) => v.toLong }.sorted
    // only COMPLETE classic checkpoints anchor a replay
    val classicCps = completeClassicCheckpoints(statuses)
    // several v2 manifests may exist per version (one per writing
    // attempt — the spec makes them equivalent); pick the
    // lexicographically first for determinism
    val v2Cps: Map[Long, String] = entries.collect {
      case n @ V2CheckpointName(v, _, _) => (v.toLong, n)
    }.groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).min }
    val checkpoints = (classicCps.keys ++ v2Cps.keys).toSeq.distinct.sorted
    if (commits.isEmpty && checkpoints.isEmpty) return None
    val head = (commits ++ checkpoints).max
    val target = asOfVersion.getOrElse(head)
    if (target > head)
      throw new IllegalArgumentException(
        s"DeltaReader: version $target requested but the log ends at $head")
    // newest checkpoint at or before the target anchors the replay;
    // JSON commits (cp, target] complete it. Contiguity is checked —
    // a vacuumed gap must raise, not silently drop state.
    val cp = checkpoints.filter(_ <= target).lastOption
    val tail = commits.filter(v => v > cp.getOrElse(-1L) && v <= target)
    val expected = (cp.getOrElse(-1L) + 1) to target
    if (expected.toSet -- tail.toSet != Set.empty)
      throw new IllegalStateException(
        s"DeltaReader: commits ${(expected.toSet -- tail.toSet).toSeq.sorted
          .mkString(",")} missing from $logDir — log truncated past " +
          "the newest usable checkpoint")

    val byName = statuses.map(st => st.getPath.getName -> st).toMap
    val tailFiles = tail.map(v => byName(f"$v%020d.json"))
    // classic (single or multi-part) wins when both forms exist at the
    // anchor — either is complete; a v2 manifest anchors otherwise
    // (the anchor may owe its completeness to a v2 manifest while a
    // partial classic landing sits alongside: no classic parts then)
    val cpParts = cp.flatMap(classicCps.get).getOrElse(Seq.empty)
    // SMALL-LOG FAST PATH: an empty or classic-checkpoint anchor whose
    // parts plus JSON tail fit under [[FastReplayMaxBytes]] replays
    // driver-side — zero Spark jobs. Every Delta write/scan resolves
    // snapshots several times; on a young table this is the
    // difference between milliseconds and a scheduler round trip per
    // resolution.
    if (!forceDistributed && (cp.isEmpty || cpParts.nonEmpty) &&
        (cpParts ++ tailFiles).map(_.getLen).sum <= FastReplayMaxBytes) {
      val cpRecords = for (v <- cp.toSeq; part <- cpParts;
                           rec <- checkpointRecords(hadoopConf, part.getPath))
        yield v -> rec
      val tailRecords = tail.zip(tailFiles).flatMap { case (v, st) =>
        commitRecords(fs, st).map(v -> _)
      }
      return fastReplay(fs, logDir, cleanUrl, cpRecords ++ tailRecords, target)
    }
    val jsonActions =
      if (tail.isEmpty) None
      else Some(spark.read.schema(actionSchema)
        .json(tailFiles.map(_.getPath.toString): _*)
        .withColumn("__v", regexp_extract(input_file_name(),
          "(\\d{20})\\.json", 1).cast("long")))
    val cpActions = cp.map { v =>
      // the explicit schema clips checkpoints' extra columns (txn,
      // stats structs, wider add/remove) AND null-fills fields absent
      // from older checkpoints (readerFeatures predates nothing a
      // v1-era checkpoint wrote)
      if (cpParts.nonEmpty)
        normalizeActions(
          spark.read.schema(actionSchema)
            .parquet(cpParts.map(_.getPath.toString): _*)
            .withColumn("__v", lit(v)))
      else readV2Checkpoint(logDir, v, v2Cps(v))
    }
    val normalizedJson = jsonActions.map(normalizeActions)
    val actions = (cpActions.toSeq ++ normalizedJson.toSeq)
      .reduce(_ unionByName _)
      .localCheckpoint() // feeds three independent aggregations below

    // the newest protocol action governs readability (gate runs in
    // the shared finisher)
    val proto = actions.where(col("__min_reader").isNotNull)
      .orderBy(col("__v").desc)
      .select(col("__min_reader"), col("__min_writer"),
        col("__feats"), col("__wfeats")).head(1)
    val protocolInfo = proto.headOption.map { r =>
      DeltaProtocol(
        r.getInt(0),
        if (r.isNullAt(1)) 2 else r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getSeq[String](2).toSeq),
        if (r.isNullAt(3)) None else Some(r.getSeq[String](3).toSeq))
    }.getOrElse(DeltaProtocol(1, 2))
    // latest metaData wins (schema evolution / repartitioning)
    val meta = actions.where(col("__schema").isNotNull)
      .orderBy(col("__v").desc)
      .select(col("__schema"), col("__pcols"), col("__provider"),
        col("__conf"), col("__mid"), col("__mct")).head(1)
    val metaVals = meta.headOption.map { m =>
      MetaVals(m.getString(0),
        Option(m.getSeq[String](1)).getOrElse(Seq.empty[String]).toSeq,
        Option(m.getString(2)).getOrElse("parquet"),
        if (m.isNullAt(3)) Map.empty else m.getMap[String, String](3).toMap,
        Option(m.getString(4)).getOrElse(""),
        if (m.isNullAt(5)) None else Some(m.getLong(5)))
    }

    // file-state reconstruction: per path, the highest-version action
    // wins; survivors are adds, the rest are tombstones. Within ONE
    // version the add wins the tie — a deletion-vector update commits
    // remove(path, oldDV) + add(path, newDV) for the same path, and
    // the add is the surviving state.
    import org.apache.spark.sql.expressions.Window
    val perPath = actions
      .select(col("__v"),
        coalesce(col("__add_path"), col("__rm_path")).as("__path"),
        col("__add_path").isNotNull.as("__is_add"),
        col("__add_pv"), col("__add_size"), col("__add_mt"),
        col("__add_dv"), col("__rm_ts"), col("__add_stats"),
        col("__add_brid"), col("__add_drcv"), col("__add_tags"))
      .where(col("__path").isNotNull)
    val w = Window.partitionBy(col("__path"))
      .orderBy(col("__v").desc, col("__is_add").desc)
    val latest = perPath
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("__path"), col("__is_add"), col("__add_pv"),
        col("__add_size"), col("__add_mt"), col("__add_dv"), col("__rm_ts"),
        col("__add_stats"), col("__add_brid"), col("__add_drcv"),
        col("__add_tags"))
      .collect()

    val latestPaths: Seq[LatestPath] = latest.toSeq.map { r =>
      def strMap(i: Int): Map[String, String] =
        if (r.isNullAt(i)) Map.empty else r.getMap[String, String](i).toMap
      val pv = strMap(2)
      val dv = Option(r.getStruct(5)).map { d =>
        require(!d.isNullAt(0) && !d.isNullAt(1) && !d.isNullAt(3),
          s"DeltaReader: malformed deletionVector descriptor on " +
            s"${r.getString(0)}")
        DvDescriptor(d.getString(0), d.getString(1),
          if (d.isNullAt(2)) None else Some(d.getInt(2)),
          d.getInt(3), if (d.isNullAt(4)) 0L else d.getLong(4))
      }
      LatestPath(r.getString(0), r.getBoolean(1), pv,
        if (r.isNullAt(3)) 0L else r.getLong(3),
        if (r.isNullAt(4)) 0L else r.getLong(4), dv,
        if (r.isNullAt(6)) 0L else r.getLong(6),
        Option(r.getString(7)),
        if (r.isNullAt(8)) None else Some(r.getLong(8)),
        if (r.isNullAt(9)) None else Some(r.getLong(9)), strMap(10))
    }
    // domainMetadata: per domain the newest action wins; removed=true
    // drops the domain from the snapshot (PROTOCOL.md "Domain
    // Metadata") — domain-count bounded
    val domains: Map[String, String] = actions
      .where(col("__dm_domain").isNotNull)
      .groupBy(col("__dm_domain"))
      .agg(max(struct(col("__v"), col("__dm_removed").as("__r"),
        col("__dm_conf").as("__c"))).as("__m"))
      .select(col("__dm_domain"), col("__m.__r"), col("__m.__c"))
      .collect()
      .filterNot(r => !r.isNullAt(1) && r.getBoolean(1))
      .map(r => r.getString(0) ->
        (if (r.isNullAt(2)) "" else r.getString(2))).toMap
    // SetTransaction watermarks: per appId the version from the
    // NEWEST commit wins (idempotent-writer bookkeeping, PROTOCOL.md
    // "Transaction Identifiers") — one appId-keyed aggregation
    val txns: Map[String, Long] = actions
      .where(col("__txn_app").isNotNull)
      .groupBy(col("__txn_app"))
      .agg(max(struct(col("__v"), col("__txn_v"))).as("__m"))
      .select(col("__txn_app"), col("__m.__txn_v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    finishSnapshot(target, logDir, fs.makeQualified(new Path(cleanUrl)),
      protocolInfo, metaVals, latestPaths, txns, domains)
  }

  private val actionMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One commit file's action lines, Jackson-parsed, in file order. */
  private[sources] def commitRecords(fs: FileSystem, st: FileStatus): Seq[JsonNode] = {
    val bytes = new Array[Byte](st.getLen.toInt)
    val in = fs.open(st.getPath)
    try in.readFully(0L, bytes) finally in.close()
    new String(bytes, "UTF-8").split("\n").iterator
      .map(_.trim).filter(_.nonEmpty).map(actionMapper.readTree).toVector
  }

  /** One classic checkpoint part's rows, read on the driver with
    * parquet-mr and rendered as the JSON action records a commit line
    * parses to: a null field is left out (as commit JSON leaves it
    * out), MAP groups become objects, LIST groups arrays. Columns the
    * reducer never reads (`add.stats_parsed`, `add.tags`, ...) ride
    * along unread; columns a checkpoint lacks are simply absent —
    * the same clip/null-fill the distributed path's explicit schema
    * applies. */
  private def checkpointRecords(conf: org.apache.hadoop.conf.Configuration,
                                part: Path): Seq[JsonNode] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.schema.LogicalTypeAnnotation.{
      ListLogicalTypeAnnotation, MapLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val nf = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
    def obj(g: Group): JsonNode = {
      val node = nf.objectNode()
      (0 until g.getType.getFieldCount).foreach { i =>
        if (g.getFieldRepetitionCount(i) > 0)
          node.set[JsonNode](g.getType.getFieldName(i), value(g, i, 0))
      }
      node
    }
    def valueOrNull(g: Group, i: Int): JsonNode =
      if (g.getFieldRepetitionCount(i) > 0) value(g, i, 0) else nf.nullNode()
    def value(g: Group, i: Int, j: Int): JsonNode = {
      val t = g.getType.getType(i)
      if (t.isPrimitive) t.asPrimitiveType.getPrimitiveTypeName match {
        case BOOLEAN => nf.booleanNode(g.getBoolean(i, j))
        case INT32 => nf.numberNode(g.getInteger(i, j))
        case INT64 => nf.numberNode(g.getLong(i, j))
        case FLOAT => nf.numberNode(g.getFloat(i, j))
        case DOUBLE => nf.numberNode(g.getDouble(i, j))
        case BINARY => nf.textNode(g.getString(i, j))
        case _ => nf.textNode(g.getValueToString(i, j)) // INT96 / FIXED
      } else {
        val sub = g.getGroup(i, j)
        def reps = 0 until sub.getFieldRepetitionCount(0)
        t.getLogicalTypeAnnotation match {
          case _: MapLogicalTypeAnnotation =>
            // repeated group key_value { key; optional value }
            val m = nf.objectNode()
            reps.foreach { k =>
              val kv = sub.getGroup(0, k)
              m.set[JsonNode](kv.getString(0, 0), valueOrNull(kv, 1))
            }
            m
          case _: ListLogicalTypeAnnotation =>
            // repeated group list { optional element }
            val arr = nf.arrayNode()
            reps.foreach(k => arr.add(valueOrNull(sub.getGroup(0, k), 0)))
            arr
          case _ => obj(sub)
        }
      }
    }
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), part)
      .withConf(conf).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map(obj).toVector
    finally reader.close()
  }

  /** Driver-side replay of a small log: the same reduction the
    * distributed path runs — newest protocol, newest metaData,
    * per-path latest action with the add winning a same-version tie,
    * per-appId newest SetTransaction — over `(version, action)`
    * records in log order: a classic checkpoint's rows (tagged with
    * its version) first, then the Jackson-parsed commit lines after
    * it. [[finishSnapshot]] assembles both paths' results, and
    * `DeltaReaderSpec`'s parity case pins them field-identical. */
  private def fastReplay(fs: FileSystem, logDir: Path, cleanUrl: String,
                         lines: Seq[(Long, JsonNode)], target: Long)
                        (implicit spark: SparkSession): Option[DeltaSnapshot] = {
    def txt(n: JsonNode, f: String): String =
      Option(n.get(f)).filterNot(_.isNull).map(_.asText).orNull
    def lng(n: JsonNode, f: String, dflt: Long): Long =
      Option(n.get(f)).filterNot(_.isNull).map(_.asLong).getOrElse(dflt)
    def strMap(n: JsonNode, f: String): Map[String, String] =
      Option(n.get(f)).filterNot(_.isNull).map { m =>
        import scala.jdk.CollectionConverters._
        m.fields().asScala.map(e => e.getKey ->
          (if (e.getValue.isNull) null else e.getValue.asText)).toMap
      }.getOrElse(Map.empty)
    def newest(field: String) = lines.reverseIterator
      .map { case (v, n) => (v, Option(n.get(field)).filterNot(_.isNull)) }
      .collectFirst { case (v, Some(n)) => (v, n) }
    val protocolInfo = newest("protocol").map { case (_, p) =>
      def feats(f: String): Option[Seq[String]] =
        Option(p.get(f)).filterNot(_.isNull).map { arr =>
          (0 until arr.size).map(i => arr.get(i).asText)
        }
      DeltaProtocol(lng(p, "minReaderVersion", 1L).toInt,
        lng(p, "minWriterVersion", 2L).toInt,
        feats("readerFeatures"), feats("writerFeatures"))
    }.getOrElse(DeltaProtocol(1, 2))
    val metaVals = newest("metaData").map { case (_, m) =>
      val pcols = Option(m.get("partitionColumns")).filterNot(_.isNull)
        .map(arr => (0 until arr.size).map(i => arr.get(i).asText))
        .getOrElse(Seq.empty)
      MetaVals(txt(m, "schemaString"), pcols.toSeq,
        Option(txt(m.path("format"), "provider")).getOrElse("parquet"),
        strMap(m, "configuration"), Option(txt(m, "id")).getOrElse(""),
        Option(m.get("createdTime")).filterNot(_.isNull).map(_.asLong))
    }
    // per-path latest action; lexicographic (version, isAdd) — the add
    // wins a same-version tie, exactly the distributed window's order
    val latest = scala.collection.mutable.LinkedHashMap
      .empty[String, ((Long, Int), LatestPath)]
    def consider(path: String, v: Long, lp: LatestPath): Unit = {
      val key = (v, if (lp.isAdd) 1 else 0)
      latest.get(path) match {
        case Some((old, _)) if
          old._1 > key._1 || (old._1 == key._1 && old._2 > key._2) => ()
        case _ => latest.update(path, (key, lp))
      }
    }
    lines.foreach { case (v, n) =>
      Option(n.get("add")).filterNot(_.isNull).foreach { a =>
        val pv = strMap(a, "partitionValues")
        val dv = Option(a.get("deletionVector")).filterNot(_.isNull).map { d =>
          require(txt(d, "storageType") != null &&
            txt(d, "pathOrInlineDv") != null && d.get("sizeInBytes") != null,
            s"DeltaReader: malformed deletionVector descriptor on " +
              s"${txt(a, "path")}")
          DvDescriptor(txt(d, "storageType"), txt(d, "pathOrInlineDv"),
            Option(d.get("offset")).filterNot(_.isNull).map(_.asInt),
            lng(d, "sizeInBytes", 0L).toInt, lng(d, "cardinality", 0L))
        }
        consider(txt(a, "path"), v, LatestPath(txt(a, "path"), isAdd = true,
          pv, lng(a, "size", 0L), lng(a, "modificationTime", 0L), dv, 0L,
          Option(txt(a, "stats")),
          Option(a.get("baseRowId")).filterNot(_.isNull).map(_.asLong),
          Option(a.get("defaultRowCommitVersion")).filterNot(_.isNull)
            .map(_.asLong), strMap(a, "tags")))
      }
      Option(n.get("remove")).filterNot(_.isNull).foreach { r =>
        consider(txt(r, "path"), v, LatestPath(txt(r, "path"), isAdd = false,
          Map.empty, 0L, 0L, None, lng(r, "deletionTimestamp", 0L), None))
      }
    }
    // domainMetadata: newest action per domain; removed drops it
    val domainState =
      scala.collection.mutable.Map.empty[String, (Long, Boolean, String)]
    lines.foreach { case (v, n) =>
      Option(n.get("domainMetadata")).filterNot(_.isNull).foreach { d =>
        val dom = txt(d, "domain")
        if (dom != null && !domainState.get(dom).exists(_._1 > v))
          domainState.update(dom, (v,
            Option(d.get("removed")).filterNot(_.isNull).exists(_.asBoolean),
            Option(txt(d, "configuration")).getOrElse("")))
      }
    }
    val domains: Map[String, String] = domainState.toMap.collect {
      case (dom, (_, removed, conf)) if !removed => dom -> conf
    }
    // per-appId newest (version, txnVersion) — lexicographic like the
    // distributed max(struct(__v, __txn_v))
    val txns = scala.collection.mutable.Map.empty[String, (Long, Long)]
    lines.foreach { case (v, n) =>
      Option(n.get("txn")).filterNot(_.isNull).foreach { t =>
        val app = txt(t, "appId")
        if (app != null) {
          val cand = (v, lng(t, "version", 0L))
          if (!txns.get(app).exists(old =>
            old._1 > cand._1 || (old._1 == cand._1 && old._2 > cand._2)))
            txns.update(app, cand)
        }
      }
    }
    finishSnapshot(target, logDir, fs.makeQualified(new Path(cleanUrl)),
      protocolInfo, metaVals, latest.values.map(_._2).toSeq,
      txns.map { case (k, v) => k -> v._2 }.toMap, domains)
  }

  /** The retained JSON commit files of `url`'s log by ascending
    * version, with the log's filesystem; none when there is no table. */
  private[sources] def commitFiles(url: String)(implicit spark: SparkSession)
      : (FileSystem, Seq[(Long, FileStatus)]) = {
    val logDir = new Path(url.stripSuffix("/"), "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, if (!fs.exists(logDir)) Nil else fs.listStatus(logDir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case CommitName(v) => Some(v.toLong -> st)
        case _ => None
      }
    }.sortBy(_._1))
  }

  /** Snapshot as of a WALL-CLOCK timestamp: the newest version whose
    * commit timestamp is `<= timestampMillis` — the protocol's
    * timestamp time travel, resolved from the commit files'
    * modification times (the convention every engine uses absent the
    * inCommitTimestamp feature) with the standard monotonicity
    * adjustment (a commit's effective time is never before its
    * predecessor's, so clock skew between writers cannot reorder
    * history). Raises when the timestamp predates the earliest
    * RETAINED commit (a vacuumed tail cannot be resolved by time);
    * None when no table exists. */
  def snapshotAsOf(url: String, timestampMillis: Long)
                  (implicit spark: SparkSession): Option[DeltaSnapshot] = {
    val cleanUrl = url.stripSuffix("/")
    val (fs, commits) = commitFiles(cleanUrl)
    if (commits.isEmpty) return None
    // when the table writes in-commit timestamps, the LOG is the
    // clock: each commit's commitInfo.inCommitTimestamp overrides its
    // file mtime (pre-enablement commits keep mtimes — the standard
    // mixed-history rule)
    val ictOn = snapshot(cleanUrl).exists(
      _.configuration.get("delta.enableInCommitTimestamps").contains("true"))
    val stamped = commits.map { case (v, st) =>
      v -> (if (!ictOn) None else DeltaWriter.readIct(fs, st.getPath))
        .getOrElse(st.getModificationTime)
    }
    val effective = stamped.scanLeft((-1L, Long.MinValue)) {
      case ((_, prevTs), (v, t)) => (v, math.max(prevTs, t))
    }.drop(1)
    val chosen = effective.filter(_._2 <= timestampMillis).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"DeltaReader: timestamp $timestampMillis predates the earliest " +
          s"retained commit (${effective.head._2} at version " +
          s"${effective.head._1})"))
    snapshotAt(cleanUrl, Some(chosen._1))
  }

  /** DESCRIBE HISTORY: one row per RETAINED JSON commit, newest
    * first — `version`, `timestamp` (the commitInfo's monotonic
    * in-commit timestamp when the ICT feature recorded one, else its
    * wall-clock `timestamp`, else the commit file's mtime — ICT
    * first is the engine precedence: on ICT tables Delta surfaces
    * the monotonic clock, never the possibly-skewed wall clock),
    * `operation` (WRITE /
    * DELETE / OPTIMIZE / RESTORE as recorded; null for writers that
    * record none), and the commit's add/remove action counts.
    * Driver work is commit-count bounded (the log's own listing
    * class); None when no table exists. Commits a checkpoint-covered
    * cleanup reclaimed no longer appear — history is as deep as the
    * retained log, exactly delta-spark's contract. */
  def history(url: String)(implicit spark: SparkSession): Option[DataFrame] = {
    val (fs, commits) = commitFiles(url)
    if (commits.isEmpty) return None
    val rows: Seq[org.apache.spark.sql.Row] = commits.reverse.map { case (v, st) =>
      val nodes = commitRecords(fs, st)
      def opt(n: com.fasterxml.jackson.databind.JsonNode, f: String) =
        Option(n.get(f)).filterNot(_.isNull)
      val ci = nodes.flatMap(opt(_, "commitInfo")).headOption
      val ts = ci.flatMap(opt(_, "inCommitTimestamp").map(_.asLong))
        .orElse(ci.flatMap(opt(_, "timestamp").map(_.asLong)))
        .getOrElse(st.getModificationTime)
      val op = ci.flatMap(opt(_, "operation").map(_.asText)).orNull
      org.apache.spark.sql.Row(v, ts, op,
        nodes.count(opt(_, "add").isDefined).toLong,
        nodes.count(opt(_, "remove").isDefined).toLong)
    }
    import scala.jdk.CollectionConverters._
    Some(spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("timestamp", LongType, nullable = false),
      StructField("operation", StringType),
      StructField("n_adds", LongType, nullable = false),
      StructField("n_removes", LongType, nullable = false)))))
  }

  /** Timestamp time-travel scan (see [[snapshotAsOf]]). */
  def scanAsOf(url: String, timestampMillis: Long)
              (implicit spark: SparkSession): Option[DataFrame] =
    snapshotAsOf(url, timestampMillis).map(assemble)

  /** Full-table scan at the latest (or a time-travel) version: data
    * files read with the log's logical schema, partition columns
    * injected as typed literals, columns in schema order. None when
    * the table does not exist; an EMPTY table yields an empty frame
    * with the right schema (matching `pl.scan_delta` semantics). */
  def scan(url: String, asOfVersion: Option[Long] = None)
          (implicit spark: SparkSession): Option[DataFrame] =
    snapshotAt(url, asOfVersion).map(assemble)

  /** The monotone base column of a GENERATED partition column's
    * expression, when the shape is one this reader can SOUNDLY derive
    * partition ranges through: `CAST(c AS DATE)` / `to_date(c)`,
    * `date_trunc('unit', c)`, `year(c)`, `substring(c, 1, n)`, and
    * `date_format(c, 'yyyy[-MM[-dd]]')` — every one is order
    * preserving, so a [lo, hi] constraint on the base maps to
    * [f(lo), f(hi)] on the partition value. Non-monotone shapes
    * (`month(c)`, `day(c)`, arithmetic) return None and derive
    * nothing — pruning must stay sound. */
  /** (base column, base-type gate) — the gate encodes WHERE the shape
    * is actually order preserving: date/time shapes are monotone over
    * DATE/TIMESTAMP bases but NOT over strings ('2024-1-01' <
    * '2024-10-5' lexicographically says nothing about the cast
    * dates, and invalid dates generate NULL); the prefix-substring
    * shape is monotone exactly over strings. */
  private[sources] def monotoneGenerationShape(genSql: String)
      (implicit spark: SparkSession): Option[(String, DataType => Boolean)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal => CatLit}
    val parsed = try spark.sessionState.sqlParser.parseExpression(genSql)
      catch { case scala.util.control.NonFatal(_) => return None }
    val temporal: DataType => Boolean = {
      case DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    val stringOnly: DataType => Boolean = _ == StringType
    def attr(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case _ => None
    }
    parsed match {
      case Cast(a, DateType, _, _) => attr(a).map(_ -> temporal)
      case f: UnresolvedFunction =>
        (f.nameParts.last.toLowerCase, f.arguments) match {
          case ("to_date", Seq(a)) => attr(a).map(_ -> temporal)
          case ("date_trunc", Seq(_: CatLit, a)) => attr(a).map(_ -> temporal)
          case ("year", Seq(a)) => attr(a).map(_ -> temporal)
          case ("substring" | "substr", Seq(a, CatLit(one, _), _: CatLit))
            if one == 1 => attr(a).map(_ -> stringOnly)
          case ("date_format", Seq(a, CatLit(fmt, _)))
            if fmt != null && Set("yyyy", "yyyy-MM", "yyyy-MM-dd")
              .contains(fmt.toString) => attr(a).map(_ -> temporal)
          case _ => None
        }
      case _ => None
    }
  }

  /** The monotone base column name alone (shape-gate-free view, kept
    * for callers that only need the dependency edge). */
  private[sources] def monotoneGenerationBase(genSql: String)
      (implicit spark: SparkSession): Option[String] =
    monotoneGenerationShape(genSql).map(_._1)

  /** Partition-range predicates DERIVED from generated partition
    * columns: when partition column p is `GENERATED ALWAYS AS f(c)`
    * with f a monotone whitelisted shape and the caller constrained c
    * with [lo, hi], the partition constraint [f(lo), f(hi)] is sound
    * — so a query on the RAW column (an events timestamp, say) prunes
    * date partitions without naming them. f is evaluated by Spark
    * itself on a two-row literal frame: the derivation can never
    * drift from write-side computation semantics. */
  private[sources] def deriveGeneratedRanges(
      snap: DeltaSnapshot, ranges: Seq[(String, String, String)])
      (implicit spark: SparkSession): Seq[(String, String, String)] = {
    val byBase = ranges.groupBy(_._1)
    val genPcols = snap.schema.fields.filter(f =>
      snap.partitionColumns.contains(f.name) &&
        f.metadata.contains("delta.generationExpression"))
    genPcols.toSeq.flatMap { f =>
      val gen = f.metadata.getString("delta.generationExpression")
      for {
        (base, typeGate) <- monotoneGenerationShape(gen)
        if !byBase.contains(f.name) // caller's own constraint wins
        (_, lo, hi) <- byBase.getOrElse(base, Seq.empty).headOption
        baseType <- snap.schema.fields.find(_.name == base).map(_.dataType)
        // the shape must be order preserving over THIS base type —
        // a string-typed date cast is not (lexicographic order of
        // non-canonical renderings disagrees with date order, and
        // invalid dates generate NULL): derive nothing, stay sound
        if typeGate(baseType)
        bounds <- scala.util.Try {
          // f monotone + lo <= hi means f(lo) <= f(hi): keep the
          // evaluation order, don't re-sort rendered strings (a "9"
          // vs "10" year would sort backwards as text)
          spark.range(2).select(col("id"),
            when(col("id") === 0, lit(lo).cast(baseType))
              .otherwise(lit(hi).cast(baseType)).as(base))
            .selectExpr("id", s"cast(($gen) as string) as __v")
            .collect().sortBy(_.getLong(0)).map(_.getString(1))
        }.toOption
        if bounds.forall(_ != null)
      } yield (f.name, bounds(0), bounds(1))
    }
  }

  /** The snapshot with every data file DROPPED whose recorded bounds
    * prove no row can satisfy the conjunction of `ranges` (`(column,
    * lo, hi)` inclusive, string-typed): bounds come from the add
    * action's `stats` JSON (`minValues`/`maxValues` — what
    * [[DeltaWriter]] records from parquet footers, and every
    * delta-spark writer records by default), or for a PARTITION
    * column from the file's literal value (min = max = value; a null
    * partition value never matches a range). An equality range
    * (`lo == hi`) also consults the file's [[BloomTags]] bloom for
    * the column, probed with the value's canonical rendering. Files
    * with no usable bound are conservatively kept, so pruning is
    * always sound; possibly-truncated string bounds from other
    * engines remain valid supersets. */
  def prunedSnapshot(url: String, ranges: Seq[(String, String, String)],
                     asOfVersion: Option[Long] = None)
                    (implicit spark: SparkSession): Option[DeltaSnapshot] =
    snapshotAt(url, asOfVersion).map(prune(_, ranges))

  /** [[prunedSnapshot]] over an already-resolved snapshot. */
  private[sources] def prune(snap: DeltaSnapshot,
                             ranges: Seq[(String, String, String)])
                            (implicit spark: SparkSession): DeltaSnapshot = {
    require(ranges.nonEmpty, "DeltaReader.prunedSnapshot: need >= 1 range")
    val derived = deriveGeneratedRanges(snap, ranges)
    val typed = (ranges ++ derived).map { case (c, lo, hi) =>
      val dt = snap.schema.find(_.name == c).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"DeltaReader.prunedSnapshot: column '$c' not in the table schema"))
      // resolved on the first file carrying a bloom for `c`
      lazy val probe = BloomTags.canonical(dt, lo)
      (c, dt, lo, hi, () => probe)
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def bound(node: com.fasterxml.jackson.databind.JsonNode,
              section: String, c: String): Option[String] =
      Option(node.get(section)).flatMap(s => Option(s.get(c)))
        .filterNot(_.isNull).map(_.asText)
    def longAt(node: com.fasterxml.jackson.databind.JsonNode,
               path: String*): Option[Long] = {
      val n = path.foldLeft(Option(node))((acc, p) =>
        acc.flatMap(x => Option(x.get(p))))
      n.filter(_.isIntegralNumber).map(_.asLong)
    }
    val kept = snap.files.filter { f =>
      lazy val statsNode = f.stats.flatMap(s =>
        scala.util.Try(om.readTree(s)).toOption)
      // a zero-row file matches nothing (empty appends land these)
      statsNode.flatMap(longAt(_, "numRecords")).forall(_ > 0L) &&
      typed.forall { case (c, dt, lo, hi, probe) =>
        if (snap.partitionColumns.contains(c)) {
          partitionValueOf(snap, f, c) match {
            case Some(null) | None => false // the null partition: no match
            case Some(v) => mayOverlap(dt, Some(v), Some(v), lo, hi)
          }
        } else (statsNode match {
          case None => true // no stats: unprunable, keep
          case Some(n) =>
            // an all-NULL column never satisfies a range predicate
            val allNull = (longAt(n, "nullCount", c), longAt(n, "numRecords"))
              match {
                case (Some(nc), Some(nr)) => nr > 0L && nc == nr
                case _ => false
              }
            !allNull && mayOverlap(dt,
              bound(n, "minValues", c), bound(n, "maxValues", c), lo, hi)
        }) && (lo != hi || f.tags.get(BloomTags.TagPrefix + c)
          .forall(BloomTags.mayContain(_, probe())))
      }
    }
    snap.copy(files = kept)
  }

  /** Can a file with bounds `[mn, mx]` (either side absent = open)
    * contain a value in `[lo, hi]`? Numeric types compare as
    * BigDecimal (the stats are exact decimal renderings); strings and
    * `yyyy-MM-dd` dates compare lexically — the same total order
    * parquet min/max uses. Conservative: unknown bound or other type
    * → true. */
  private[sources] def mayOverlap(dt: DataType, mn: Option[String],
                                  mx: Option[String], lo: String,
                                  hi: String): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType =>
      val l = new java.math.BigDecimal(lo)
      val h = new java.math.BigDecimal(hi)
      mn.forall(m => new java.math.BigDecimal(m).compareTo(h) <= 0) &&
        mx.forall(m => new java.math.BigDecimal(m).compareTo(l) >= 0)
    case StringType | DateType => mn.forall(_ <= hi) && mx.forall(_ >= lo)
    case _ => true
  }

  /** Range-predicate scan with file-level DATA SKIPPING over the add
    * actions' statistics — semantically exactly
    * `scan().filter(AND of col BETWEEN lo AND hi)` (the residual
    * filter still applies to the survivors), physically only the
    * possibly-overlapping files are ever listed or read. With data
    * range-clustered on the predicate columns at write time, a
    * selective range on a 100 TB table touches a handful of files:
    * the pruning is metadata-only, before any directory/file I/O. */
  def scanPruned(url: String, ranges: Seq[(String, String, String)],
                 asOfVersion: Option[Long] = None)
                (implicit spark: SparkSession): Option[DataFrame] =
    snapshotAt(url, asOfVersion).map(scanRanges(_, ranges))

  /** [[scanPruned]] over an already-resolved snapshot. */
  private[sources] def scanRanges(snap: DeltaSnapshot,
                                  ranges: Seq[(String, String, String)])
                                 (implicit spark: SparkSession): DataFrame = {
    val fieldType = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    ranges.foldLeft(assemble(prune(snap, ranges))) { case (df, (c, lo, hi)) =>
      df.where(col(c) >= lit(lo).cast(fieldType(c)) &&
        col(c) <= lit(hi).cast(fieldType(c)))
    }
  }

  /** Targeted partition read, mirroring delta_dataset.py:41-54: the
    * key set must equal the table's partition columns (raise
    * otherwise); a missing partition yields an empty frame, not None
    * (a pyarrow partition filter returns zero rows, not an error). */
  def readPartition(url: String, values: Map[String, String])
                   (implicit spark: SparkSession): Option[DataFrame] =
    snapshot(url).map { snap =>
      require(values.keySet == snap.partitionColumns.toSet,
        s"Partition column value keys ${values.keySet} do not match " +
          s"partition columns ${snap.partitionColumns}")
      assemble(snap.copy(files = snap.files.filter(f =>
        values.forall { case (k, v) =>
          partitionValueOf(snap, f, k).contains(v) })))
    }

  /** A file's value for partition column `c` (a LOGICAL name). Under
    * column mapping the log keys `partitionValues` by the PHYSICAL
    * name (the protocol's writer requirement); the logical key is
    * accepted as a fallback for writers that never renamed them. */
  private[sources] def partitionValueOf(snap: DeltaSnapshot, f: DeltaFile,
                                        c: String): Option[String] = {
    val phys = snap.physicalSchema.flatMap { ps =>
      snap.schema.fieldNames.zip(ps.fieldNames).toMap.get(c)
    }
    phys.flatMap(f.partitionValues.get).orElse(f.partitionValues.get(c))
  }

  /** Build the snapshot DataFrame: one parquet read per distinct
    * partition-value tuple (bounded by partition count, each a plain
    * multi-file scan with pushdown intact), literals injected with
    * the SCHEMA's types, then one union. Files carrying a deletion
    * vector scan WITH `_metadata.row_index` and anti-join the decoded
    * masks; DV-free files keep the untouched plain scan. */
  private def assemble(snap: DeltaSnapshot)
                      (implicit spark: SparkSession): DataFrame =
    assembleInternal(snap, keepMeta = false)

  /** The snapshot frame PLUS `__fp` (= `_metadata.file_path`) and
    * `__ri` (= `_metadata.row_index`) provenance columns, existing
    * deletion vectors already applied — what a DV-writing DELETE
    * needs to turn a predicate into per-file row-index masks. */
  private[sources] def scanWithRowIndex(snap: DeltaSnapshot)
                                       (implicit spark: SparkSession): DataFrame =
    assembleInternal(snap, keepMeta = true)

  /** [[scanWithRowIndex]] PLUS `_row_id` / `_row_commit_version` —
    * what MERGE/UPDATE need on row-tracking-enabled tables: the mask
    * provenance and the identity the replacement rows must carry. */
  private[sources] def scanWithRowIndexAndIds(snap: DeltaSnapshot)
                                             (implicit spark: SparkSession): DataFrame =
    assembleInternal(snap, keepMeta = true, keepRowIds = true)

  /** Assemble an arbitrary (possibly file-filtered) snapshot — the
    * OPTIMIZE rewrite path reads just the heavily-masked files this
    * way, masks applied, partition literals injected. */
  private[sources] def assembleSnapshot(snap: DeltaSnapshot)
                                       (implicit spark: SparkSession): DataFrame =
    assembleInternal(snap, keepMeta = false)

  /** The snapshot frame PLUS a `_row_id` / `_row_commit_version`
    * column pair (the `rowTracking` writer feature's stable row
    * identity): per row, the MATERIALIZED columns the table's
    * configuration names when present (rewritten files carry the old
    * assignment there), else `add.baseRowId + row_index` /
    * `add.defaultRowCommitVersion`. Files without tracking metadata
    * yield NULLs — the mixed-history contract. */
  def scanWithRowIds(url: String, asOfVersion: Option[Long] = None)
                    (implicit spark: SparkSession): Option[DataFrame] =
    snapshotAt(url.stripSuffix("/"), asOfVersion)
      .filter(_.files.nonEmpty)
      .map(assembleInternal(_, keepMeta = false, keepRowIds = true))

  /** [[scanWithRowIds]] over an already-resolved (possibly
    * file-filtered) snapshot — the rewrite verbs' input when they
    * must carry row identity through to materialized columns. */
  private[sources] def assembleWithRowIds(snap: DeltaSnapshot)
                                         (implicit spark: SparkSession): DataFrame =
    assembleInternal(snap, keepMeta = false, keepRowIds = true)

  private def assembleInternal(snap: DeltaSnapshot, keepMeta: Boolean,
                               keepRowIds: Boolean = false)
                              (implicit spark: SparkSession): DataFrame = {
    val fieldType = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    snap.partitionColumns.foreach { c =>
      if (!fieldType.contains(c))
        throw new IllegalStateException(
          s"DeltaReader: partition column '$c' missing from table schema")
    }
    // logical data fields zipped with the names parquet actually
    // stores them under (identical unless column mapping is on)
    val dataPairs = snap.physicalSchema
      .map(ps => snap.schema.fields.zip(ps.fields))
      .getOrElse(snap.schema.fields.map(f => (f, f)))
      .filterNot { case (lf, _) => snap.partitionColumns.contains(lf.name) }
      .toSeq
    // materialized row-tracking columns: physical-only (absent from
    // the logical schema), read through when row ids are requested
    val matIdName = snap.configuration
      .get("delta.rowTracking.materializedRowIdColumnName")
      .filter(_ => keepRowIds)
    val matRcvName = snap.configuration
      .get("delta.rowTracking.materializedRowCommitVersionColumnName")
      .filter(_ => keepRowIds)
    val matFields = (matIdName.toSeq ++ matRcvName.toSeq)
      .map(n => StructField(n, LongType))
    if (keepRowIds) {
      val reserved = Set("_row_id", "_row_commit_version") ++
        matIdName ++ matRcvName
      val collisions = snap.schema.fieldNames.toSet.intersect(reserved)
      require(collisions.isEmpty,
        s"DeltaReader.scanWithRowIds: table columns ${collisions
          .mkString(", ")} collide with the row-tracking output/" +
          "materialized column names — rename them or read without row ids")
    }
    val needMeta = keepMeta || keepRowIds
    val dataSchema = StructType(dataPairs.map(_._2) ++ matFields)
    val metaCols = if (needMeta) Seq(col("__fp"), col("__ri")) else Seq.empty
    val matCols = matFields.map(f => col(f.name))
    val ordered = snap.schema.fieldNames.map(col).toSeq ++ metaCols ++ matCols
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(snap.schema.fields ++
        (if (keepMeta) Seq(StructField("__fp", StringType),
          StructField("__ri", LongType)) else Seq.empty) ++
        (if (keepRowIds) Seq(StructField("_row_id", LongType),
          StructField("_row_commit_version", LongType)) else Seq.empty)))
    if (snap.files.isEmpty) return empty
    val deleted = deletedRowsFrame(snap) // built once, shared by groups
    val groups = snap.files
      .groupBy(f => snap.partitionColumns.map(c =>
        partitionValueOf(snap, f, c).orNull))
      .toSeq.sortBy(_._1.mkString("/"))
    groups.map { case (pvals, fs) =>
      val (dvFiles, plainFiles) = fs.partition(_.deletionVector.isDefined)
      def readFiles(paths: Seq[String], withMask: Boolean): DataFrame = {
        val read = spark.read.schema(dataSchema).parquet(paths: _*)
        val masked =
          if (!withMask && !needMeta) read
          else {
            // _metadata.file_path IS Path.toUri.toString (spec-pinned
            // in DeletionVectorSpec), so the join key matches the
            // driver-side descriptor frame exactly — no normalization
            val withM = read
              .withColumn("__fp", col("_metadata.file_path"))
              .withColumn("__ri", col("_metadata.row_index"))
            val anti =
              if (!withMask) withM
              else withM.join(
                deleted.get.select(col("__dv_fp").as("__fp"),
                  col("__dv_ri").as("__ri")),
                Seq("__fp", "__ri"), "left_anti")
            if (needMeta) anti else anti.drop("__fp", "__ri")
          }
        // physical→logical rename; nested names ride a struct cast
        // (positional, so shape is preserved exactly). The cast
        // target is nullability-RELAXED: the parquet scan's output is
        // always nullable, and Spark refuses a nullable→non-nullable
        // container cast — a foreign mapped table declaring a NOT
        // NULL inner field would otherwise be unreadable.
        val dataSel = snap.physicalSchema match {
          case Some(_) => dataPairs.map { case (lf, pf) =>
            col(pf.name).cast(relaxNullability(lf.dataType)).as(lf.name) }
          case None => dataPairs.map(_._2.name).map(col)
        }
        masked.select(dataSel ++ metaCols ++ matCols: _*)
      }
      val parts =
        (if (plainFiles.nonEmpty)
          Seq(readFiles(plainFiles.map(_.path), withMask = false)) else Nil) ++
        (if (dvFiles.nonEmpty)
          Seq(readFiles(dvFiles.map(_.path), withMask = true)) else Nil)
      val base = parts.reduce(_ unionByName _)
      snap.partitionColumns.zip(pvals).foldLeft(base) { case (d, (c, v)) =>
        // log partition values are strings ("2024-01-02", "42", null);
        // ANSI cast raises on garbage — corrupt logs fail loudly
        d.withColumn(c, lit(v).cast(StringType).cast(fieldType(c)))
      }.select(ordered: _*)
    }.reduce(_ unionByName _) match {
      case assembled if !keepRowIds => assembled
      case assembled =>
        // resolve _row_id / _row_commit_version: one broadcast join
        // against the (file-count bounded) per-add assignment frame
        import spark.implicits._
        val bm = snap.files.map(f =>
          (new Path(f.path).toUri.toString,
            f.baseRowId.map(Long.box).map(_.toLong),
            f.defaultRowCommitVersion.map(Long.box).map(_.toLong)))
          .toDF("__bm_fp", "__bm_base", "__bm_rcv")
        val fromBase = (col("__bm_base") + col("__ri")).cast(LongType)
        val rid = matIdName.map(n => coalesce(col(n), fromBase))
          .getOrElse(fromBase)
        val rcv = matRcvName.map(n => coalesce(col(n), col("__bm_rcv")))
          .getOrElse(col("__bm_rcv"))
        assembled
          .join(broadcast(bm), col("__fp") === col("__bm_fp"), "left")
          .withColumn("_row_id", rid)
          .withColumn("_row_commit_version", rcv.cast(LongType))
          .drop((Seq("__bm_fp", "__bm_base", "__bm_rcv") ++
            matIdName.toSeq ++ matRcvName.toSeq ++
            (if (keepMeta) Seq.empty else Seq("__fp", "__ri"))): _*)
    }
  }

  /** Hadoop Configuration with Java serialization — lets the DV
    * decode task open the sidecar on the executor with the SESSION's
    * filesystem config (credentials, schemes), not a blank one. */
  private[sources] final class SerializableConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** The decoded deletion masks as a DataFrame of
    * `(__dv_fp = data-file Path.toUri.toString, __dv_ri = row index)`.
    * None when no file carries a DV.
    *
    * Scale shape (100 TB): the INPUT is one row per DV-carrying file
    * (metadata-sized); sidecars are opened and bitmaps decoded ON
    * EXECUTORS, so the driver never holds a bitmap (inline `i`
    * payloads are the exception — those bytes already live in the
    * log the driver replayed). The flatMap fan-out is
    * `cardinality`-bounded = total deleted rows, distributed. This is
    * a documented imperative seam (§2.9): a roaring bitmap has no
    * Catalyst rendering, and the per-FILE input frame means the seam
    * never touches row-count-sized data on the way in. */
  private[sources] def deletedRowsFrame(snap: DeltaSnapshot)
                              (implicit spark: SparkSession): Option[DataFrame] = {
    val dvFiles = snap.files.filter(_.deletionVector.isDefined)
    if (dvFiles.isEmpty) return None
    import spark.implicits._
    val work = dvFiles.map(f => (new Path(f.path).toUri.toString, f.deletionVector.get))
    val conf = spark.sparkContext.broadcast(
      new SerializableConf(spark.sessionState.newHadoopConf()))
    val root = snap.root
    val df = spark.createDataset(work).flatMap { case (key, d) =>
      DeletionVectors.rowIndexes(d, root, conf.value.value).iterator.map(ri => (key, ri))
    }.toDF("__dv_fp", "__dv_ri")
    Some(df)
  }
}
