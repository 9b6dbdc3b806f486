package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Change-data reconstruction over a real Delta `_delta_log` — the
  * batch version of `readChangeFeed`, derived purely from the PUBLIC
  * commit protocol (no CDC sidecar files needed): the tail-follow
  * face a streaming consumer polls with a version watermark
  * (see [[DeltaFollow]] for the poll loop + persisted watermark).
  *
  * Per version `v` in the requested window, with `prev` = the live
  * file state at `v-1`, the commit's actions classify as:
  *
  *  - `add` with `dataChange=true` of a path NOT live in `prev` →
  *    a genuinely new data file: its rows (minus its add-time
  *    deletion vector) are **inserts** at `v`;
  *  - `add` with `dataChange=true` of a path live in `prev` whose
  *    deletion vector CHANGED (the remove+re-add shape a DV DELETE
  *    or a RESTORE commits) → rows in the new mask but not the old
  *    one are **deletes** at `v`, and rows in the OLD mask but not
  *    the new one are **inserts** at `v` (row restoration — real
  *    `readChangeFeed` emits un-deleted rows as inserts, so a
  *    downstream mirror replaying this feed never misses them);
  *  - `remove` with `dataChange=true` of a live path with no re-add
  *    in the same commit (file-level DELETE / overwrite) → the
  *    file's surviving rows at `v-1` are **deletes** at `v`;
  *  - anything with `dataChange=false` (OPTIMIZE rewrites, compaction,
  *    checkpoint replays) → **no changes**, exactly the protocol's
  *    contract that rearrangement is not data.
  *
  * The change frame carries the table schema plus `_change_type`
  * (`insert` | `delete`) and `_commit_version` — the Delta CDF
  * column names.
  *
  * Scale shape (100 TB): the whole window's commits are parsed in ONE
  * pass (driver-side Jackson for small poll windows — zero Spark
  * jobs; a single distributed JSON read attributed back to versions
  * by file name for multi-MiB backfills — both reducing to the same
  * [[CdfCommit]] carrier, parity-pinned in `DeltaChangesSpec`),
  * and the file state is replayed INCREMENTALLY — one snapshot replay
  * at the watermark, then each commit's actions applied to the
  * in-memory file map — so a full-history read of a V-commit table
  * costs O(log), not O(V × log). Driver state is commit-action /
  * file-count sized; row-level work (new-file reads, DV-diff
  * filters, survivor scans) runs as distributed scans batched per
  * version. A window vacuumed past its commits raises loudly.
  */
object DeltaChanges {

  /** One version's attributed changes. `inserts` covers genuinely new
    * data files AND rows un-deleted by a shrinking deletion vector
    * (the RESTORE shape); `deletes` covers newly-masked rows and
    * dropped files' survivors. Frames are LAZY — building a
    * VersionDelta runs no Spark job. */
  private final case class VersionDelta(
      version: Long,
      inserts: Option[DataFrame],
      deletes: Seq[DataFrame],
      tagged: Option[DataFrame] = None)

  /** Changes in `(fromVersion, toVersion]` (default head). Pass
    * `fromVersion = -1` to start at the table's creation. The window
    * must be covered by JSON commits — change attribution needs the
    * per-version actions, so a vacuumed tail raises rather than
    * guessing. Returns None when no table exists at `url`. */
  def readChanges(url: String, fromVersion: Long,
                  toVersion: Option[Long] = None)
                 (implicit spark: SparkSession): Option[DataFrame] = {
    val cleanUrl = url.stripSuffix("/")
    val headSnap = DeltaReader.snapshot(cleanUrl).getOrElse(return None)
    val to = toVersion.getOrElse(headSnap.version)
    require(to <= headSnap.version,
      s"DeltaChanges: version $to requested but the log ends at " +
        s"${headSnap.version}")
    require(fromVersion <= to,
      s"DeltaChanges: empty window ($fromVersion, $to]")
    if (fromVersion == to) return Some(emptyChangeFrame(headSnap))
    val frames = taggedChanges(cleanUrl, fromVersion, to, headSnap)
      .flatMap(_._2)
    // balanced union: a wide (full-history) window must not build a
    // linearly-deep plan — log-depth keeps Catalyst analysis cheap
    Some(balancedUnion(emptyChangeFrame(headSnap) +: frames))
  }

  // allowMissingColumns: a schema-evolving commit inside the window
  // makes later frames wider — pre-evolution rows null-fill the added
  // columns, exactly how the evolved table reads them
  private def balancedUnion(fs: Seq[DataFrame]): DataFrame =
    if (fs.length == 1) fs.head
    else {
      val (a, b) = fs.splitAt(fs.length / 2)
      balancedUnion(a).unionByName(balancedUnion(b),
        allowMissingColumns = true)
    }

  /** The zero-row change frame carrying `schema` + the CDF columns. */
  private[sources] def emptyChangeFrame(snap: DeltaReader.DeltaSnapshot)
                                       (implicit spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(snap.schema.fields ++ Seq(
        StructField("_change_type", StringType),
        StructField("_commit_version", LongType))))

  /** Per-version TAGGED change frames in `(from, to]` (None = the
    * version changed nothing) — one incremental pass; what
    * [[readChanges]] unions and [[DeltaFollow.foreachVersion]]
    * delivers version-at-a-time without re-replaying the log. */
  private[sources] def taggedChanges(url: String, from: Long, to: Long,
                                     head: DeltaReader.DeltaSnapshot)
                                    (implicit spark: SparkSession)
      : Seq[(Long, Option[DataFrame])] =
    versionDeltas(url, from, to, head).map { d =>
      // a commit that logged cdc actions is AUTHORITATIVE for its own
      // change set (the protocol rule delta-spark reads by): emit the
      // _change_data rows with their recorded types, derive nothing
      d.tagged match {
        case Some(t) =>
          (d.version, Some(t.withColumn("_commit_version", lit(d.version))))
        case None =>
          val tagged =
            (d.inserts.map(_.withColumn("_change_type", lit("insert"))).toSeq ++
              d.deletes.map(_.withColumn("_change_type", lit("delete"))))
              .map(_.withColumn("_commit_version", lit(d.version)))
          (d.version, tagged.reduceOption(_ unionByName _))
      }
    }

  // parse schema for the window read: only the CDF-relevant fields
  private val dvSchema = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  private val cdfActionSchema = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("deletionVector", dvSchema)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("dataChange", BooleanType)))),
    StructField("metaData", StructType(Seq(
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))),
    StructField("cdc", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType))))))

  /** One commit's CDF-relevant actions, paths already absolute — the
    * carrier BOTH window parsers (distributed JSON read / driver-side
    * Jackson) reduce to, so the replay cannot diverge by parse path. */
  private[sources] final case class CdfCommit(
      adds: Seq[(DeltaReader.DeltaFile, Boolean)],
      removes: Map[String, Boolean],
      meta: Option[(Option[String], Option[Seq[String]],
        Option[Map[String, String]])],
      cdc: Seq[DeltaReader.DeltaFile] = Seq.empty)

  /** Per-version change frames in `(from, to]`, by incremental replay:
    * ONE read of the window's commits (driver-side Jackson when the
    * window is small — a poll window costs zero Spark jobs; one
    * distributed JSON read otherwise), ONE anchor snapshot at the
    * watermark, then per version the actions apply to the in-memory
    * file map (driver cost = action count). */
  private def versionDeltas(url: String, from: Long, to: Long,
                            head: DeltaReader.DeltaSnapshot)
                           (implicit spark: SparkSession): Seq[VersionDelta] = {
    val logDir = new Path(url, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    def commitPath(v: Long) = new Path(logDir, f"$v%020d.json")
    val window = (from + 1) to to
    val statuses = window.map(v => commitPath(v))
      .map(p => p -> (if (fs.exists(p)) Some(fs.getFileStatus(p)) else None))
    val missing = window.zip(statuses).collect {
      case (v, (_, None)) => v }
    require(missing.isEmpty,
      s"DeltaChanges: commits ${missing.mkString(",")} are vacuumed " +
        s"away — change attribution for ($from, $to] needs their JSON commits")

    val qualifiedBase = fs.makeQualified(new Path(url))
    def absPath(raw: String): Path = {
      val uri = new java.net.URI(raw)
      val p = new Path(uri)
      if (uri.isAbsolute) p else new Path(qualifiedBase, p)
    }
    def key(f: DeltaReader.DeltaFile): String =
      new Path(f.path).toUri.toString

    val windowBytes = statuses.flatMap(_._2).map(_.getLen).sum
    val byVersion: Map[Long, CdfCommit] =
      if (windowBytes <= DeltaReader.FastReplayMaxBytes)
        parseWindowDriver(fs, window.map(v => v -> commitPath(v)), absPath)
      else parseWindowDistributed(window.map(v => v -> commitPath(v)), absPath)

    // replay state, seeded by ONE snapshot at the watermark (None
    // before creation); metaData actions in the window update it
    val seed: Option[DeltaReader.DeltaSnapshot] =
      if (from < 0) None else DeltaReader.snapshotAt(url, Some(from))
    var files: Map[String, DeltaReader.DeltaFile] = seed
      .map(_.files.map(f => key(f) -> f).toMap).getOrElse(Map.empty)
    var schema: StructType = seed.map(_.schema).getOrElse(new StructType())
    var pcols: Seq[String] = seed.map(_.partitionColumns).getOrElse(Seq.empty)
    var conf: Map[String, String] = seed.map(_.configuration).getOrElse(Map.empty)

    window.toSeq.map { v =>
      val actions = byVersion.getOrElse(v, CdfCommit(Seq.empty, Map.empty, None))
      // rows read out of a dropped file carry the PRE-commit shape
      val (pSchema, pPcols, pConf) = (schema, pcols, conf)
      actions.meta.foreach { case (sj, pc, cf) =>
        sj.foreach(j =>
          schema = DataType.fromJson(j).asInstanceOf[StructType])
        pc.foreach(pcols = _)
        cf.foreach(conf = _)
      }
      def mkSnap(version: Long, st: StructType, pc: Seq[String],
                 cf: Map[String, String],
                 fset: Seq[DeltaReader.DeltaFile]) =
        head.copy(version = version, schema = st, partitionColumns = pc,
          files = fset.sortBy(_.path),
          physicalSchema = DeltaReader.physicalSchemaFor(st, cf),
          configuration = cf)

      val adds = actions.adds
      val removed = actions.removes
      val prevFiles = files
      val newFiles = (prevFiles -- removed.keys) ++
        adds.map { case (f, _) => key(f) -> f }
      files = newFiles
      if (actions.cdc.nonEmpty) {
        // cdc-authoritative version (the writer logged its own change
        // set under _change_data/): read THOSE rows with their
        // recorded _change_type, derive nothing — the protocol rule,
        // and the only correct reading for DV-masking commits written
        // by CDF-conformant engines; none of the derivation machinery
        // below is even planned. The insert/delete split still
        // populates (postimages count as the insert stream, exactly
        // what the derived path emitted for DV-commit new files), so
        // mirrorAppends and the poll face never starve on cdc
        // versions.
        require(!conf.get("delta.columnMapping.mode").contains("id"),
          "DeltaChanges: cdc files on an id-mode column-mapped table " +
            "are unreadable — _change_type carries no field id")
        val cdcSchema = StructType(schema.fields :+
          StructField("_change_type", StringType))
        // the physical shape appends _change_type verbatim (cdc files
        // store it unmapped); building it field-wise avoids
        // physicalSchemaFor demanding mapping metadata on it
        val cdcPhys = DeltaReader.physicalSchemaFor(schema, conf)
          .map(ps => StructType(ps.fields :+
            StructField("_change_type", StringType)))
        val frame = DeltaReader.assembleSnapshot(head.copy(version = v,
          schema = cdcSchema, partitionColumns = pcols,
          files = actions.cdc.sortBy(_.path).toSeq,
          physicalSchema = cdcPhys, configuration = conf))
        VersionDelta(v,
          Some(frame.where(col("_change_type")
            .isin("insert", "update_postimage")).drop("_change_type")),
          Seq(frame.where(col("_change_type")
            .isin("delete", "update_preimage")).drop("_change_type")),
          Some(frame))
      } else {
      val snapV = mkSnap(v, schema, pcols, conf, newFiles.values.toSeq)

      val insertFiles = adds.collect {
        case (f, true) if !prevFiles.contains(key(f)) => f
      }.sortBy(_.path)
      // a data-changing re-add whose descriptor differs EITHER way:
      // a growing mask is a delete, a shrinking one a restoration
      val dvPairs = adds.collect {
        case (f, true) if prevFiles.contains(key(f)) &&
          prevFiles(key(f)).deletionVector != f.deletionVector =>
          (prevFiles(key(f)), f)
      }.sortBy(_._2.path)
      val dropped = removed.collect {
        case (k, true) if prevFiles.contains(k) && !newFiles.contains(k) =>
          prevFiles(k)
      }.toSeq.sortBy(_.path)

      // one content scan of the re-added files (masks lifted): rows
      // the new descriptor masks and the old one did not are deletes,
      // the reverse are restorations
      val (dvDeletes, dvRestores) =
        if (dvPairs.isEmpty) (None, None)
        else {
          val content = DeltaReader.scanWithRowIndex(snapV.copy(
            files = dvPairs.map(_._2.copy(deletionVector = None))))
          val oldMask = DeltaReader.fileLookup(snapV.copy(files = dvPairs.map(_._1)))
          val newMask = DeltaReader.fileLookup(snapV.copy(files = dvPairs.map(_._2)))
          def maskedBy(now: DeltaReader.FileLookup, before: DeltaReader.FileLookup) =
            content.where(udf((p: String, i: Long) =>
              now.isDeleted(p, i) && !before.isDeleted(p, i)).apply(col("__fp"), col("__ri")))
              .drop("__fp", "__ri")
          (Option.when(dvPairs.exists(_._2.deletionVector.isDefined))(
            maskedBy(newMask, oldMask)),
            Option.when(dvPairs.exists(_._1.deletionVector.isDefined))(
              maskedBy(oldMask, newMask)))
        }
      // file-level removes: the file's surviving rows as of v-1
      val dropDeletes =
        if (dropped.isEmpty) None
        else Some(DeltaReader.assembleSnapshot(
          mkSnap(v - 1, pSchema, pPcols, pConf, dropped)))
      val newFileInserts =
        if (insertFiles.isEmpty) None
        else Some(DeltaReader.assembleSnapshot(
          snapV.copy(files = insertFiles)))

      val inserts = (newFileInserts.toSeq ++ dvRestores.toSeq)
        .reduceOption(_ unionByName _)
      VersionDelta(v, inserts, dvDeletes.toSeq ++ dropDeletes.toSeq)
      }
    }
  }

  /** The window's commits as one distributed JSON read, attributed
    * back to versions by file name — the at-scale parse (a backfill
    * window can span thousands of commits). */
  private[sources] def parseWindowDistributed(paths: Seq[(Long, Path)],
                                     absPath: String => Path)
                                    (implicit spark: SparkSession)
      : Map[Long, CdfCommit] = {
    val rows = spark.read.schema(cdfActionSchema)
      .json(paths.map(_._2.toString): _*)
      .withColumn("__v", regexp_extract(input_file_name(),
        "(\\d{20})\\.json", 1).cast("long"))
      .collect() // the window's action lists: commit-metadata-sized
      .toSeq.groupBy(_.getAs[Long]("__v"))
    rows.map { case (v, actions) =>
      val adds = actions.flatMap { r =>
        Option(r.getStruct(0)).map { a =>
          val pv: Map[String, String] =
            if (a.isNullAt(1)) Map.empty
            else a.getMap[String, String](1).toMap
          val dv = Option(a.getStruct(5)).map { d =>
            DeltaReader.DvDescriptor(d.getString(0), d.getString(1),
              if (d.isNullAt(2)) None else Some(d.getInt(2)),
              d.getInt(3), if (d.isNullAt(4)) 0L else d.getLong(4))
          }
          (DeltaReader.DeltaFile(absPath(a.getString(0)).toString, pv,
            if (a.isNullAt(2)) 0L else a.getLong(2),
            if (a.isNullAt(3)) 0L else a.getLong(3), dv),
            a.isNullAt(4) || a.getBoolean(4))
        }
      }
      val removes: Map[String, Boolean] = actions.flatMap(r =>
        Option(r.getStruct(1)).map(rm =>
          absPath(rm.getString(0)).toUri.toString ->
            (rm.isNullAt(1) || rm.getBoolean(1)))).toMap
      val meta = actions.flatMap(r => Option(r.getStruct(2))).lastOption
        .map { m =>
          (if (m.isNullAt(0)) None else Some(m.getString(0)),
            if (m.isNullAt(1)) None else Some(m.getSeq[String](1).toSeq),
            if (m.isNullAt(2)) None
            else Some(m.getMap[String, String](2).toMap))
        }
      val cdc = actions.flatMap { r =>
        Option(r.getStruct(3)).map { c =>
          val pv: Map[String, String] =
            if (c.isNullAt(1)) Map.empty
            else c.getMap[String, String](1).toMap
          DeltaReader.DeltaFile(absPath(c.getString(0)).toString, pv,
            if (c.isNullAt(2)) 0L else c.getLong(2))
        }
      }
      v -> CdfCommit(adds, removes, meta, cdc)
    }
  }

  /** Driver-side window parse for small poll windows — plain Jackson
    * over the commit bytes, zero Spark jobs (the [[DeltaReader
    * .FastReplayMaxBytes]] size gate decides). Reduces to the same
    * [[CdfCommit]] shape as the distributed parse. */
  private[sources] def parseWindowDriver(fs: org.apache.hadoop.fs.FileSystem,
                                paths: Seq[(Long, Path)],
                                absPath: String => Path)
      : Map[Long, CdfCommit] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def txt(n: com.fasterxml.jackson.databind.JsonNode, f: String): String =
      Option(n.get(f)).filterNot(_.isNull).map(_.asText).orNull
    def lng(n: com.fasterxml.jackson.databind.JsonNode, f: String,
            dflt: Long): Long =
      Option(n.get(f)).filterNot(_.isNull).map(_.asLong).getOrElse(dflt)
    def strMap(n: com.fasterxml.jackson.databind.JsonNode)
        : Map[String, String] = {
      import scala.jdk.CollectionConverters._
      n.fields().asScala.map(e => e.getKey ->
        (if (e.getValue.isNull) null else e.getValue.asText)).toMap
    }
    paths.map { case (v, p) =>
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0L, bytes) finally in.close()
      val nodes = new String(bytes, "UTF-8").split("\n").iterator
        .map(_.trim).filter(_.nonEmpty).map(om.readTree).toSeq
      val adds = nodes.flatMap(n =>
        Option(n.get("add")).filterNot(_.isNull)).map { a =>
        val pv = Option(a.get("partitionValues")).filterNot(_.isNull)
          .map(strMap).getOrElse(Map.empty[String, String])
        val dv = Option(a.get("deletionVector")).filterNot(_.isNull).map { d =>
          DeltaReader.DvDescriptor(txt(d, "storageType"),
            txt(d, "pathOrInlineDv"),
            Option(d.get("offset")).filterNot(_.isNull).map(_.asInt),
            lng(d, "sizeInBytes", 0L).toInt, lng(d, "cardinality", 0L))
        }
        (DeltaReader.DeltaFile(absPath(txt(a, "path")).toString, pv,
          lng(a, "size", 0L), lng(a, "modificationTime", 0L), dv),
          Option(a.get("dataChange")).filterNot(_.isNull)
            .forall(_.asBoolean))
      }
      val removes: Map[String, Boolean] = nodes.flatMap(n =>
        Option(n.get("remove")).filterNot(_.isNull)).map { r =>
        absPath(txt(r, "path")).toUri.toString ->
          Option(r.get("dataChange")).filterNot(_.isNull).forall(_.asBoolean)
      }.toMap
      val meta = nodes.flatMap(n =>
        Option(n.get("metaData")).filterNot(_.isNull)).lastOption.map { m =>
        (Option(txt(m, "schemaString")),
          Option(m.get("partitionColumns")).filterNot(_.isNull)
            .map(arr => (0 until arr.size).map(i => arr.get(i).asText).toSeq),
          Option(m.get("configuration")).filterNot(_.isNull).map(strMap))
      }
      val cdc = nodes.flatMap(n =>
        Option(n.get("cdc")).filterNot(_.isNull)).map { c =>
        val pv = Option(c.get("partitionValues")).filterNot(_.isNull)
          .map(strMap).getOrElse(Map.empty[String, String])
        DeltaReader.DeltaFile(absPath(txt(c, "path")).toString, pv,
          lng(c, "size", 0L))
      }
      v -> CdfCommit(adds, removes, meta, cdc)
    }.toMap
  }

  /** Tail-follow composition with the exactly-once append primitive:
    * apply every INSERT batch in `(fromVersion, head]` of `srcUrl`
    * to the Delta table at `dstUrl`, one commit per source version,
    * each keyed by a SetTransaction on the source's table id — so a
    * crashed/replayed follower restarting from ANY stale watermark
    * re-applies nothing (versions already in the mirror's txn
    * watermark no-op before data lands). Returns the new watermark
    * to persist. Restored rows (a DV shrinking under RESTORE) ride
    * the insert stream like `readChangeFeed` emits them. Deletes and
    * rewrites on the source do not retract from the mirror — this is
    * the append-stream face; a consumer wanting full parity applies
    * the `delete` rows itself.
    *
    * Versions with no insert-shaped actions are skipped at the
    * METADATA level (no Spark job); a version whose insert frame must
    * be computed is materialized ONCE (persisted) so the emptiness
    * check and the write share the same blocks. */
  def mirrorAppends(srcUrl: String, dstUrl: String, fromVersion: Long)
                   (implicit spark: SparkSession): Long = {
    val cleanSrc = srcUrl.stripSuffix("/")
    val srcSnap = DeltaReader.snapshot(cleanSrc).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaChanges.mirrorAppends: no Delta table at $cleanSrc"))
    if (srcSnap.version <= fromVersion) return srcSnap.version
    val appId = s"graft-mirror-${srcSnap.tableId}"
    versionDeltas(cleanSrc, fromVersion, srcSnap.version, srcSnap)
      .foreach { d =>
        d.inserts.foreach { batch0 =>
          val batch = batch0.persist()
          try {
            if (!batch.isEmpty)
              DeltaWriter.write(dstUrl, batch, Seq.empty,
                overwrite = false, txn = Some((appId, d.version)))
          } finally batch.unpersist(blocking = false)
        }
      }
    srcSnap.version
  }
}
