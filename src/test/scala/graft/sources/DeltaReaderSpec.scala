package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

// checkpoint-row shapes (top-level so Spark can derive Encoders)
private[sources] case class CpAdd(path: String,
    partitionValues: Map[String, String], size: Long, dataChange: Boolean)
private[sources] case class CpRemove(path: String, deletionTimestamp: Long,
    dataChange: Boolean)
private[sources] case class CpFormat(provider: String)
private[sources] case class CpMeta(id: String, format: CpFormat,
    schemaString: String, partitionColumns: Seq[String],
    configuration: Map[String, String])
private[sources] case class CpProto(minReaderVersion: Int, minWriterVersion: Int)
private[sources] case class CpRow(add: Option[CpAdd], remove: Option[CpRemove],
    metaData: Option[CpMeta], protocol: Option[CpProto])
// v2-checkpoint manifest row shapes (PROTOCOL.md "V2 Spec Checkpoints")
private[sources] case class CpCheckpointMetadata(version: Long)
private[sources] case class CpSidecar(path: String, sizeInBytes: Long)
private[sources] case class CpRowV2(add: Option[CpAdd], remove: Option[CpRemove],
    metaData: Option[CpMeta], protocol: Option[CpProto],
    checkpointMetadata: Option[CpCheckpointMetadata],
    sidecar: Option[CpSidecar])

/** Read-only Delta protocol replay against hand-built `_delta_log`
  * fixtures (the public delta.io PROTOCOL.md format, authored here
  * byte-by-byte — no delta jars anywhere): two-commit add/remove
  * replay, URL-encoded paths, partition-literal injection, time
  * travel, checkpoint + vacuumed-tail replay, contiguity and
  * protocol-version guards. Reference surface:
  * /root/reference/polario/delta_dataset.py:41-62. */
class DeltaReaderSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("v", LongType), StructField("p", StringType)))

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def metaJson: String =
    s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${esc(schema.json)}","partitionColumns":["p"],""" +
      s""""configuration":{},"createdTime":1700000000000}}"""

  private def protoJson(minReader: Int = 1): String =
    s"""{"protocol":{"minReaderVersion":$minReader,"minWriterVersion":2}}"""

  private def addJson(path: String, pv: (String, String)*): String =
    s"""{"add":{"path":"$path","partitionValues":{${pv.map { case (k, v) =>
      s""""$k":"$v"""" }.mkString(",")}},"size":100,""" +
      s""""modificationTime":1700000000000,"dataChange":true}}"""

  private def removeJson(path: String): String =
    s"""{"remove":{"path":"$path","deletionTimestamp":1700000001000,""" +
      s""""dataChange":true}}"""

  private def writeCommit(table: String, version: Long, lines: Seq[String]): Unit = {
    val dir = Paths.get(table, "_delta_log")
    Files.createDirectories(dir)
    Files.write(dir.resolve(f"$version%020d.json"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Land `df` as ONE parquet file at exactly `table/relPath`. */
  private def writeDataFile(df: DataFrame, table: String, relPath: String): Unit = {
    val tmp = Files.createTempDirectory("delta-frag")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = Paths.get(table, relPath)
      Files.createDirectories(dest.getParent)
      Files.copy(part, dest)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  /** The standard two-commit fixture: v0 adds A(1,2)+B(10); v1 swaps
    * B's file for one holding (20,30). One A-side file name carries a
    * URL-encoded space. */
  private def buildTable(table: String): Unit = {
    writeDataFile(Seq(1L, 2L).toDF("v"), table, "p=A/f 1.parquet")
    writeDataFile(Seq(10L).toDF("v"), table, "p=B/f2.parquet")
    writeDataFile(Seq(20L, 30L).toDF("v"), table, "p=B/f3.parquet")
    writeCommit(table, 0L, Seq(protoJson(), metaJson,
      addJson("p=A/f%201.parquet", "p" -> "A"),
      addJson("p=B/f2.parquet", "p" -> "B")))
    writeCommit(table, 1L, Seq(
      removeJson("p=B/f2.parquet"),
      addJson("p=B/f3.parquet", "p" -> "B")))
  }

  test("two-commit replay: remove tombstones, latest adds win, encoded paths decode") {
    withTempDir { dir =>
      val table = s"$dir/t"
      buildTable(table)
      val snap = DeltaReader.snapshot(table).get
      assert(snap.version == 1L)
      assert(snap.partitionColumns == Seq("p"))
      assert(snap.schema == schema)
      assert(snap.files.map(f => f.path.split('/').last).sorted ==
        Seq("f 1.parquet", "f3.parquet"))
      assertSameData(DeltaReader.scan(table).get,
        Seq((1L, "A"), (2L, "A"), (20L, "B"), (30L, "B")).toDF("v", "p"))
    }
  }

  test("time travel reads the pre-swap state; future versions raise") {
    withTempDir { dir =>
      val table = s"$dir/t"
      buildTable(table)
      assertSameData(DeltaReader.scan(table, Some(0L)).get,
        Seq((1L, "A"), (2L, "A"), (10L, "B")).toDF("v", "p"))
      val e = intercept[IllegalArgumentException](
        DeltaReader.snapshotAt(table, Some(5L)))
      assert(e.getMessage.contains("log ends at 1"))
    }
  }

  test("readPartition mirrors the reference: key-set validation, empty partition = empty frame") {
    withTempDir { dir =>
      val table = s"$dir/t"
      buildTable(table)
      assertSameData(DeltaReader.readPartition(table, Map("p" -> "B")).get,
        Seq((20L, "B"), (30L, "B")).toDF("v", "p"))
      // absent partition: zero rows, right schema (pyarrow filter
      // semantics, delta_dataset.py:47-54)
      val empty = DeltaReader.readPartition(table, Map("p" -> "C")).get
      assert(empty.count() == 0 && empty.schema == schema)
      // wrong key set raises like the reference's ValueError
      val e = intercept[IllegalArgumentException](
        DeltaReader.readPartition(table, Map("q" -> "A")))
      assert(e.getMessage.contains("do not match partition columns"))
    }
  }

  test("missing table scans to None (TableNotFoundError contract)") {
    withTempDir { dir =>
      assert(DeltaReader.scan(s"$dir/nope").isEmpty)
      // a bare _delta_log with no commits is not a table either
      Files.createDirectories(Paths.get(s"$dir/empty/_delta_log"))
      assert(DeltaReader.scan(s"$dir/empty").isEmpty)
    }
  }

  test("checkpoint anchors replay after the JSON tail is vacuumed") {
    withTempDir { dir =>
      val table = s"$dir/t"
      buildTable(table)
      // hand-build the v1 checkpoint: protocol + metaData + live adds
      // + f2's tombstone, exactly what a writer checkpoints
      val rows = Seq(
        CpRow(None, None, None, Some(CpProto(1, 2))),
        CpRow(None, None, Some(CpMeta("fixture", CpFormat("parquet"),
          schema.json, Seq("p"), Map.empty)), None),
        CpRow(Some(CpAdd("p=A/f%201.parquet", Map("p" -> "A"), 100L, true)),
          None, None, None),
        CpRow(Some(CpAdd("p=B/f3.parquet", Map("p" -> "B"), 100L, true)),
          None, None, None),
        CpRow(None, Some(CpRemove("p=B/f2.parquet", 1700000001000L, true)),
          None, None))
      val tmp = Files.createTempDirectory("delta-cp")
      rows.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      val logDir = Paths.get(table, "_delta_log")
      Files.copy(part, logDir.resolve(f"${1L}%020d.checkpoint.parquet"))
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
      // vacuum the JSON tail the checkpoint covers, then commit v2
      Files.delete(logDir.resolve(f"${0L}%020d.json"))
      Files.delete(logDir.resolve(f"${1L}%020d.json"))
      writeDataFile(Seq(5L).toDF("v"), table, "p=A/f4.parquet")
      writeCommit(table, 2L, Seq(addJson("p=A/f4.parquet", "p" -> "A")))
      assertSameData(DeltaReader.scan(table).get,
        Seq((1L, "A"), (2L, "A"), (5L, "A"), (20L, "B"), (30L, "B"))
          .toDF("v", "p"))
      // versions under the checkpoint are unreachable now — loud, not wrong
      val e = intercept[IllegalStateException](
        DeltaReader.snapshotAt(table, Some(0L)))
      assert(e.getMessage.contains("missing"))
    }
  }

  test("multi-part checkpoints replay as one snapshot") {
    withTempDir { dir =>
      val table = s"$dir/t"
      buildTable(table)
      // split the v1 checkpoint across TWO parts with the protocol's
      // <v>.checkpoint.<part>.<nparts>.parquet naming
      val part1 = Seq(
        CpRow(None, None, None, Some(CpProto(1, 2))),
        CpRow(None, None, Some(CpMeta("fixture", CpFormat("parquet"),
          schema.json, Seq("p"), Map.empty)), None),
        CpRow(Some(CpAdd("p=A/f%201.parquet", Map("p" -> "A"), 100L, true)),
          None, None, None))
      val part2 = Seq(
        CpRow(Some(CpAdd("p=B/f3.parquet", Map("p" -> "B"), 100L, true)),
          None, None, None),
        CpRow(None, Some(CpRemove("p=B/f2.parquet", 1700000001000L, true)),
          None, None))
      val logDir = Paths.get(table, "_delta_log")
      Seq((part1, 1), (part2, 2)).foreach { case (rows, i) =>
        val tmp = Files.createTempDirectory("delta-cpp")
        rows.toDS().toDF().coalesce(1).write.mode("overwrite")
          .parquet(tmp.toString)
        val part = Files.list(tmp)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.copy(part, logDir.resolve(
          f"${1L}%020d.checkpoint.$i%010d.${2}%010d.parquet"))
        org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
      }
      Files.delete(logDir.resolve(f"${0L}%020d.json"))
      Files.delete(logDir.resolve(f"${1L}%020d.json"))
      writeDataFile(Seq(7L).toDF("v"), table, "p=A/f5.parquet")
      writeCommit(table, 2L, Seq(addJson("p=A/f5.parquet", "p" -> "A")))
      assertSameData(DeltaReader.scan(table).get,
        Seq((1L, "A"), (2L, "A"), (7L, "A"), (20L, "B"), (30L, "B"))
          .toDF("v", "p"))
    }
  }

  /** Land `df` as ONE parquet file at exactly `dest`. */
  private def writeOneParquet(df: DataFrame, dest: java.nio.file.Path): Unit = {
    val tmp = Files.createTempDirectory("delta-cp")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.createDirectories(dest.getParent)
      Files.copy(part, dest)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  private val proto3v2cp: String =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["v2Checkpoint"],""" +
      """"writerFeatures":["v2Checkpoint"]}}"""

  test("v2 checkpoint: json manifest + two parquet sidecars anchor replay after vacuum") {
    withTempDir { dir =>
      val table = s"$dir/t"
      writeDataFile(Seq(1L, 2L).toDF("v"), table, "p=A/f 1.parquet")
      writeDataFile(Seq(10L).toDF("v"), table, "p=B/f2.parquet")
      writeDataFile(Seq(20L, 30L).toDF("v"), table, "p=B/f3.parquet")
      writeCommit(table, 0L, Seq(proto3v2cp, metaJson,
        addJson("p=A/f%201.parquet", "p" -> "A"),
        addJson("p=B/f2.parquet", "p" -> "B")))
      writeCommit(table, 1L, Seq(
        removeJson("p=B/f2.parquet"),
        addJson("p=B/f3.parquet", "p" -> "B")))
      val logDir = Paths.get(table, "_delta_log")
      // file actions split across TWO sidecars under _sidecars/
      writeOneParquet(Seq(
        CpRow(Some(CpAdd("p=A/f%201.parquet", Map("p" -> "A"), 100L, false)),
          None, None, None)).toDS().toDF(),
        logDir.resolve("_sidecars").resolve("sc-aaa.parquet"))
      writeOneParquet(Seq(
        CpRow(Some(CpAdd("p=B/f3.parquet", Map("p" -> "B"), 100L, false)),
          None, None, None),
        CpRow(None, Some(CpRemove("p=B/f2.parquet", 1700000001000L, false)),
          None, None)).toDS().toDF(),
        logDir.resolve("_sidecars").resolve("sc-bbb.parquet"))
      // UUID-named json manifest: checkpointMetadata + non-file
      // actions + the sidecar pointers
      Files.write(
        logDir.resolve(f"${1L}%020d.checkpoint.80a083e8-7026-4e79-81be-000000000001.json"),
        (Seq(
          """{"checkpointMetadata":{"version":1,"tags":{}}}""",
          proto3v2cp, metaJson,
          """{"sidecar":{"path":"sc-aaa.parquet","sizeInBytes":100,""" +
            """"modificationTime":1700000000000}}""",
          """{"sidecar":{"path":"sc-bbb.parquet","sizeInBytes":100,""" +
            """"modificationTime":1700000000000}}""")
          .mkString("\n") + "\n").getBytes("UTF-8"))
      // vacuum the covered tail: replay now NEEDS the v2 checkpoint
      Files.delete(logDir.resolve(f"${0L}%020d.json"))
      Files.delete(logDir.resolve(f"${1L}%020d.json"))
      writeDataFile(Seq(5L).toDF("v"), table, "p=A/f4.parquet")
      writeCommit(table, 2L, Seq(addJson("p=A/f4.parquet", "p" -> "A")))
      assertSameData(DeltaReader.scan(table).get,
        Seq((1L, "A"), (2L, "A"), (5L, "A"), (20L, "B"), (30L, "B"))
          .toDF("v", "p"))
      // time travel anchored at the checkpoint's own version
      assertSameData(DeltaReader.scan(table, Some(1L)).get,
        Seq((1L, "A"), (2L, "A"), (20L, "B"), (30L, "B")).toDF("v", "p"))
      // under the checkpoint: loud, never wrong
      val e = intercept[IllegalStateException](
        DeltaReader.snapshotAt(table, Some(0L)))
      assert(e.getMessage.contains("missing"))
    }
  }

  test("v2 parquet manifest with inline file actions (no sidecars) replays") {
    withTempDir { dir =>
      val table = s"$dir/t"
      buildTable(table)
      val logDir = Paths.get(table, "_delta_log")
      writeOneParquet(Seq(
        CpRowV2(None, None, None, None, Some(CpCheckpointMetadata(1L)), None),
        CpRowV2(None, None, None, Some(CpProto(1, 2)), None, None),
        CpRowV2(None, None, Some(CpMeta("fixture", CpFormat("parquet"),
          schema.json, Seq("p"), Map.empty)), None, None, None),
        CpRowV2(Some(CpAdd("p=A/f%201.parquet", Map("p" -> "A"), 100L, false)),
          None, None, None, None, None),
        CpRowV2(Some(CpAdd("p=B/f3.parquet", Map("p" -> "B"), 100L, false)),
          None, None, None, None, None),
        CpRowV2(None, Some(CpRemove("p=B/f2.parquet", 1700000001000L, false)),
          None, None, None, None)).toDS().toDF(),
        logDir.resolve(f"${1L}%020d.checkpoint.f1b2c3d4.parquet"))
      Files.delete(logDir.resolve(f"${0L}%020d.json"))
      Files.delete(logDir.resolve(f"${1L}%020d.json"))
      assertSameData(DeltaReader.scan(table).get,
        Seq((1L, "A"), (2L, "A"), (20L, "B"), (30L, "B")).toDF("v", "p"))
    }
  }

  test("a v2 manifest whose checkpointMetadata version mismatches its name raises") {
    withTempDir { dir =>
      val table = s"$dir/t"
      buildTable(table)
      val logDir = Paths.get(table, "_delta_log")
      Files.write(
        logDir.resolve(f"${1L}%020d.checkpoint.deadbeef.json"),
        (Seq("""{"checkpointMetadata":{"version":7,"tags":{}}}""",
          protoJson(), metaJson).mkString("\n") + "\n").getBytes("UTF-8"))
      Files.delete(logDir.resolve(f"${0L}%020d.json"))
      val e = intercept[IllegalArgumentException](DeltaReader.snapshot(table))
      assert(e.getMessage.contains("checkpointMetadata"))
    }
  }

  test("a v3 table with an undeclared feature set raises instead of mis-reading") {
    withTempDir { dir =>
      val table = s"$dir/t"
      writeDataFile(Seq(1L).toDF("v"), table, "p=A/f1.parquet")
      writeCommit(table, 0L, Seq(protoJson(minReader = 3), metaJson,
        addJson("p=A/f1.parquet", "p" -> "A")))
      val e = intercept[UnsupportedOperationException](
        DeltaReader.snapshot(table))
      assert(e.getMessage.contains("protocol 3"))
    }
  }

  // ---- column mapping (name mode) --------------------------------

  private def mappedSchema: StructType = {
    def m(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    StructType(Seq(
      StructField("v", LongType, nullable = true, m(1, "col-aaa111")),
      StructField("p", StringType, nullable = true, m(2, "col-ppp222"))))
  }

  private def mappedMetaJson: String =
    s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${esc(mappedSchema.json)}","partitionColumns":["p"],""" +
      s""""configuration":{"delta.columnMapping.mode":"name",""" +
      s""""delta.columnMapping.maxColumnId":"2"},"createdTime":1700000000000}}"""

  private def buildMappedTable(table: String,
                               protoLine: String): Unit = {
    // parquet stores the PHYSICAL column name; partitionValues are
    // keyed by the partition column's physical name (the protocol's
    // writer requirement under column mapping)
    writeDataFile(Seq(1L, 2L).toDF("col-aaa111"), table, "pA/f1.parquet")
    writeDataFile(Seq(30L).toDF("col-aaa111"), table, "pB/f2.parquet")
    writeCommit(table, 0L, Seq(protoLine, mappedMetaJson,
      addJson("pA/f1.parquet", "col-ppp222" -> "A"),
      addJson("pB/f2.parquet", "col-ppp222" -> "B")))
  }

  test("column mapping name mode: physical parquet names read back logical") {
    withTempDir { dir =>
      val table = s"$dir/t"
      buildMappedTable(table, protoJson(minReader = 2))
      val out = DeltaReader.scan(table).get
      assert(out.columns.toSeq == Seq("v", "p"))
      assertSameData(out,
        Seq((1L, "A"), (2L, "A"), (30L, "B")).toDF("v", "p"))
      // targeted partition read takes LOGICAL keys
      assertSameData(DeltaReader.readPartition(table, Map("p" -> "B")).get,
        Seq((30L, "B")).toDF("v", "p"))
    }
  }

  test("reader v3 with only the columnMapping feature reads; others raise") {
    withTempDir { dir =>
      val table = s"$dir/t"
      buildMappedTable(table,
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["columnMapping"],""" +
          """"writerFeatures":["columnMapping"]}}""")
      assert(DeltaReader.scan(table).get.count() == 3L)
    }
    withTempDir { dir =>
      val table = s"$dir/t"
      // deletionVectors is implemented now — declaring it (with no DV
      // on any file) must read fine alongside columnMapping
      buildMappedTable(table,
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["columnMapping","deletionVectors"],""" +
          """"writerFeatures":["columnMapping","deletionVectors"]}}""")
      assert(DeltaReader.scan(table).get.count() == 3L)
    }
    withTempDir { dir =>
      val table = s"$dir/t"
      // v2Checkpoint is implemented now — declaring it (with no v2
      // checkpoint written yet) must read fine alongside columnMapping
      buildMappedTable(table,
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["columnMapping","v2Checkpoint"],""" +
          """"writerFeatures":["columnMapping","v2Checkpoint"]}}""")
      assert(DeltaReader.scan(table).get.count() == 3L)
    }
    withTempDir { dir =>
      val table = s"$dir/t"
      buildMappedTable(table,
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["columnMapping","futureMagicFeature"],""" +
          """"writerFeatures":["columnMapping","futureMagicFeature"]}}""")
      val e = intercept[UnsupportedOperationException](
        DeltaReader.snapshot(table))
      assert(e.getMessage.contains("futureMagicFeature"))
    }
  }

  test("column mapping id mode: parquet FIELD IDS resolve columns, stored names carry no meaning") {
    withTempDir { dir =>
      val table = s"$dir/t"
      // the data file's stored column name matches NEITHER the logical
      // nor the logged physical name — only its parquet field id (1)
      // points back at the schema. Name-based matching would fail;
      // id-mode matching must read the values.
      val fieldIdMd = new MetadataBuilder()
        .putLong("parquet.field.id", 1L).build()
      writeDataFile(
        Seq(1L, 2L).toDF("v")
          .select($"v".as("utterly-unrelated-name", fieldIdMd)),
        table, "pA/f1.parquet")
      writeDataFile(
        Seq(30L).toDF("v")
          .select($"v".as("another-alias", fieldIdMd)),
        table, "pB/f2.parquet")
      writeCommit(table, 0L, Seq(protoJson(minReader = 2),
        mappedMetaJson.replace("\"name\"", "\"id\""),
        addJson("pA/f1.parquet", "col-ppp222" -> "A"),
        addJson("pB/f2.parquet", "col-ppp222" -> "B")))
      val out = DeltaReader.scan(table).get
      assert(out.columns.toSeq == Seq("v", "p"))
      assertSameData(out,
        Seq((1L, "A"), (2L, "A"), (30L, "B")).toDF("v", "p"))
      // targeted partition read still takes LOGICAL keys
      assertSameData(DeltaReader.readPartition(table, Map("p" -> "B")).get,
        Seq((30L, "B")).toDF("v", "p"))
    }
  }

  test("id mode without delta.columnMapping.id metadata raises instead of mis-reading") {
    withTempDir { dir =>
      val table = s"$dir/t"
      // schema WITHOUT the per-field id metadata but mode=id
      val bare = StructType(Seq(
        StructField("v", LongType), StructField("p", StringType)))
      writeDataFile(Seq(1L).toDF("v"), table, "pA/f1.parquet")
      writeCommit(table, 0L, Seq(protoJson(minReader = 2),
        s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${esc(bare.json)}","partitionColumns":["p"],""" +
          s""""configuration":{"delta.columnMapping.mode":"id"},""" +
          s""""createdTime":1700000000000}}""",
        addJson("pA/f1.parquet", "p" -> "A")))
      val e = intercept[IllegalStateException](DeltaReader.snapshot(table))
      assert(e.getMessage.contains("delta.columnMapping.id"))
    }
  }

  test("partition literals take the SCHEMA's type (long partition column)") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val sch = StructType(Seq(
        StructField("v", LongType), StructField("k", LongType)))
      writeDataFile(Seq(7L).toDF("v"), table, "k=42/f1.parquet")
      writeCommit(table, 0L, Seq(protoJson(),
        s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${esc(sch.json)}","partitionColumns":["k"],""" +
          s""""configuration":{},"createdTime":1700000000000}}""",
        addJson("k=42/f1.parquet", "k" -> "42")))
      val out = DeltaReader.scan(table).get
      assert(out.schema == sch)
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((7L, 42L)))
    }
  }

  /** Replace `table`'s version-10 classic checkpoint with `parts`
    * (one frame = a single-file checkpoint, several = a complete
    * multi-part one), exactly as a foreign writer would land them. */
  private def replaceCheckpoint10(table: String, parts: Seq[DataFrame]): Unit = {
    val logDir = Paths.get(table, "_delta_log")
    Files.delete(logDir.resolve(f"${10L}%020d.checkpoint.parquet"))
    Files.deleteIfExists(logDir.resolve(f".${10L}%020d.checkpoint.parquet.crc"))
    if (parts.size == 1)
      writeOneParquet(parts.head, logDir.resolve(f"${10L}%020d.checkpoint.parquet"))
    else parts.zipWithIndex.foreach { case (df, i) =>
      writeOneParquet(df, logDir.resolve(
        f"${10L}%020d.checkpoint.${i + 1}%010d.${parts.size}%010d.parquet"))
    }
  }

  /** `table`'s version-10 checkpoint rows, held in memory so the file
    * can be replaced under them. */
  private def checkpoint10(table: String): DataFrame = {
    val cp = spark.read.parquet(Paths.get(table, "_delta_log",
      f"${10L}%020d.checkpoint.parquet").toString)
    spark.createDataFrame(cp.collect().toSeq.asJava, cp.schema)
  }

  test("small-log fast replay is field-identical to the distributed replay at every version") {
    withTempDir { dir =>
      import org.apache.spark.sql.functions.{col, lit, map, struct, when}
      def assertParity(table: String, versions: Seq[Long]): Unit = {
        versions.foreach { v =>
          val fast = DeltaReader.snapshotAt(table, Some(v)).get
          val dist = DeltaReader.snapshotAtImpl(table, Some(v),
            forceDistributed = true).get
          assert(fast == dist, s"fast vs distributed replay diverged at " +
            s"$table v$v:\nfast: $fast\ndist: $dist")
          assert(fast.files.nonEmpty, s"$table v$v snapshot empty?")
        }
        // both paths scan to the same rows at the head
        assertSameData(
          DeltaReader.assembleSnapshot(DeltaReader.snapshotAt(table, None).get),
          DeltaReader.assembleSnapshot(DeltaReader.snapshotAtImpl(table, None,
            forceDistributed = true).get))
      }
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      // a history exercising every state field: partitioned writes
      // (stats + partition values), append, DV delete (descriptor +
      // protocol upgrade), overwrite (tombstones), restore (re-adds),
      // SetTransaction-keyed writes (txns) and a merge — crossing the
      // version-10 checkpoint, so v10+ replay anchored on it
      ds.write((1L to 6L).map(i => (i, if (i <= 3) "A" else "B"))
        .toDF("v", "p").coalesce(1))                       // v0
      ds.append(Seq((7L, "A")).toDF("v", "p"))             // v1
      ds.delete($"v" % 2 === 0L)                           // v2
      ds.write(Seq((99L, "C")).toDF("v", "p"))             // v3
      ds.restore(2L)                                       // v4
      DeltaWriter.write(table, Seq((50L, "A")).toDF("v", "p"),
        Seq("p"), overwrite = false, txn = Some(("parity-app", 17L)))  // v5
      (6L to 9L).foreach(i =>
        ds.append(Seq((100L + i, "B")).toDF("v", "p")))    // v6-v9
      ds.merge(Seq((7L, "A"), (60L, "C")).toDF("v", "p"), Seq("v"))  // v10
      ds.delete($"v" === 50L)                              // v11
      DeltaWriter.write(table, Seq((51L, "A")).toDF("v", "p"),
        Seq("p"), overwrite = false, txn = Some(("parity-app", 18L)))  // v12
      ds.append(Seq((61L, "C")).toDF("v", "p"))            // v13
      assert(Files.exists(Paths.get(table, "_delta_log",
        f"${10L}%020d.checkpoint.parquet")), "no checkpoint at v10")
      assertParity(table, 0L to 13L)

      // the same log, its checkpoint landed by a foreign writer as a
      // complete multi-part checkpoint, then with extra columns, then
      // with columns missing
      val cp = checkpoint10(table)
      val variants = Seq(
        "multipart" -> Seq(cp.where(col("add").isNull),
          cp.where(col("add").isNotNull)),
        "extra" -> Seq(cp.withColumn("add", when(col("add").isNotNull,
          col("add")
            .withField("tags", map(lit("INSERTION_TIME"), lit("1700000000000")))
            .withField("stats_parsed", struct(lit(1L).as("numRecords"),
              struct(col("add.size").as("v")).as("minValues")))))),
        "missing" -> Seq(cp.drop("txn", "domainMetadata")
          .withColumn("add", when(col("add").isNotNull,
            col("add").dropFields("baseRowId")))))
      variants.foreach { case (name, parts) =>
        val copy = s"$dir/$name"
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(table), new java.io.File(copy))
        replaceCheckpoint10(copy, parts)
        assertParity(copy, 10L to 13L)
      }
    }
  }

  test("a checkpoint-anchored log under the fast-replay gate resolves snapshots with zero Spark jobs") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      (0L to 11L).foreach(i =>
        ds.append(Seq((i, if (i % 2 == 0) "A" else "B")).toDF("v", "p")))
      val logDir = Paths.get(table, "_delta_log")
      assert(Files.exists(logDir.resolve(f"${10L}%020d.checkpoint.parquet")))
      val logBytes = Files.list(logDir).iterator().asScala
        .filter(_.getFileName.toString.matches("""\d{20}\.(json|checkpoint\.parquet)"""))
        .map(Files.size).sum
      assert(logBytes < DeltaReader.FastReplayMaxBytes)

      // the probe sees jobs: the distributed replay of the same log runs some
      val (distJobs, _) = jobsOf(DeltaReader.snapshotAtImpl(table, None,
        forceDistributed = true))
      assert(distJobs > 0)
      val (headJobs, head) = jobsOf(DeltaReader.snapshot(table))
      assert(head.get.version == 11L && head.get.files.size == 12)
      assert(headJobs == 0, s"snapshot ran $headJobs jobs")
      val (atJobs, at) = jobsOf(DeltaReader.snapshotAt(table, Some(11L)))
      assert(at.get.files.size == 12)
      assert(atJobs == 0, s"snapshotAt past the checkpoint ran $atJobs jobs")
      val (prunedJobs, pruned) = jobsOf(
        DeltaReader.prunedSnapshot(table, Seq(("v", "3", "5"))))
      assert(pruned.get.files.size == 3)
      assert(prunedJobs == 0, s"prunedSnapshot ran $prunedJobs jobs")
    }
  }

  test("an unknown deletion-vector storage type fails both replays, naming the file") {
    withTempDir { dir =>
      val table = s"$dir/t"
      writeDataFile(Seq(1L, 2L).toDF("v"), table, "p=A/f1.parquet")
      val dv = """{"storageType":"x","pathOrInlineDv":"abcde","sizeInBytes":4,"cardinality":1}"""
      writeCommit(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        metaJson,
        addJson("p=A/f1.parquet", "p" -> "A").replace(
          ""","dataChange":true}""", s""","dataChange":true,"deletionVector":$dv}""")))
      Seq(false, true).foreach { distributed =>
        val e = intercept[IllegalArgumentException](
          DeltaReader.snapshotAtImpl(table, None, forceDistributed = distributed))
        assert(e.getMessage.contains("p=A/f1.parquet") &&
          e.getMessage.contains("storageType 'x'"),
          s"distributed=$distributed: ${e.getMessage}")
      }
    }
  }

  /** A name-mapped, row-tracked table partitioned on `(a STRING, b
    * INT)` with one file per partition value — `(x,1)`, `(x,2)`,
    * `(y,1)`, base row ids 0, 10, 20 — the `(y,1)` file's first row
    * masked by an inline (`i`) deletion vector when `inlineDv`.
    * Returns the written rows `(v, a, b, row index, row id)`. */
  private def buildTwoKeyTable(table: String, inlineDv: Boolean)
      : Seq[(Long, String, Int, Long, Long)] = {
    def field(name: String, dt: DataType, id: Long) = StructField(name, dt,
      metadata = new MetadataBuilder().putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", s"col-$name$id").build())
    val sch = StructType(Seq(field("v", LongType, 1), field("a", StringType, 2),
      field("b", IntegerType, 3)))
    val files = Seq((("x", 1), Seq(1L, 2L, 3L), 0L), (("x", 2), Seq(4L, 5L), 10L),
      (("y", 1), Seq(6L, 7L, 8L), 20L))
    val inline = {
      val data = DeletionVectors.serialize(Seq(0L))
      val padded = java.util.Arrays.copyOf(data, (data.length + 3) / 4 * 4)
      s""","deletionVector":{"storageType":"i","pathOrInlineDv":""" +
        s""""${DeletionVectors.z85Encode(padded)}","sizeInBytes":${data.length},""" +
        """"cardinality":1}"""
    }
    val adds = files.map { case ((a, b), vs, base) =>
      val rel = s"col-a2=$a/col-b3=$b/part-$a$b.parquet"
      writeDataFile(vs.toDF("col-v1"), table, rel)
      s"""{"add":{"path":"$rel","partitionValues":{"col-a2":"$a","col-b3":"$b"},""" +
        s""""size":${Files.size(Paths.get(table, rel))},"modificationTime":1700000000000,""" +
        s""""dataChange":true,"baseRowId":$base,"defaultRowCommitVersion":0""" +
        (if (inlineDv && a == "y") inline else "") + "}}"
    }
    writeCommit(table, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["columnMapping","deletionVectors"],""" +
        """"writerFeatures":["columnMapping","deletionVectors","rowTracking",""" +
        """"domainMetadata"]}}""",
      s"""{"metaData":{"id":"two-key","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"${esc(sch.json)}","partitionColumns":["a","b"],""" +
        """"configuration":{"delta.columnMapping.mode":"name",""" +
        """"delta.columnMapping.maxColumnId":"3","delta.enableRowTracking":"true",""" +
        """"delta.enableDeletionVectors":"true"},"createdTime":1700000000000}}""") ++
      adds :+
      """{"domainMetadata":{"domain":"delta.rowTracking",""" +
        """"configuration":"{\"rowIdHighWaterMark\":29}","removed":false}}""")
    files.flatMap { case ((a, b), vs, base) =>
      vs.zipWithIndex.map { case (v, i) => (v, a, b, i.toLong, base + i) } }
  }

  /** File scans and broadcast exchanges in `df`'s executed plan. */
  private def scanShape(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    df.collect()
    val plan = df.queryExecution.executedPlan
    object Plans extends AdaptiveSparkPlanHelper
    (Plans.collect(plan) { case s: FileSourceScanExec => s }.size,
      Plans.collect(plan) { case b: BroadcastExchangeExec => b }.size)
  }

  test("one scan per snapshot: two partition columns, name mapping, row ids, 'u' and 'i' masks") {
    withTempDir { dir =>
      import org.apache.spark.sql.functions.col
      val table = s"$dir/t"
      val written = buildTwoKeyTable(table, inlineDv = true)
      // a sidecar ('u') mask on the (x,1) file, next to the inline one on (y,1)
      new DeltaDataset(table, Seq("a", "b")).delete(col("v") === 2L)
      val snap = DeltaReader.snapshot(table).get
      val dvTypes = snap.files.flatMap(f => f.deletionVector.map(d =>
        DeltaReader.partitionValueOf(snap, f, "a").get -> d.storageType)).toMap
      assert(dvTypes == Map("x" -> "u", "y" -> "i"), s"masks: $dvTypes")
      val live = written.filterNot { case (v, _, _, _, _) => v == 2L || v == 6L }
      val scan = DeltaReader.scan(table).get
      val withIds = DeltaReader.scanWithRowIds(table).get
      val withIndex = DeltaReader.scanWithRowIndex(snap)
      assert(scan.schema.fieldNames.toSeq == Seq("v", "a", "b"))
      assertSameData(scan, live.map { case (v, a, b, _, _) => (v, a, b) }.toDF("v", "a", "b"))
      assertSameData(withIds, live.map { case (v, a, b, _, id) => (v, a, b, id, 0L) }
        .toDF("v", "a", "b", "_row_id", "_row_commit_version"))
      assertSameData(withIndex.drop("__fp"), live.map { case (v, a, b, ri, _) =>
        (v, a, b, ri) }.toDF("v", "a", "b", "__ri"))
      Seq(scan, withIds, withIndex).foreach { df =>
        assert(scanShape(df) == (1, 0), s"file scans and broadcasts: ${scanShape(df)}")
      }
      // a DV-free table of the same shape counts in as many jobs
      val plain = s"$dir/plain"
      buildTwoKeyTable(plain, inlineDv = false)
      val (maskedJobs, n) = jobsOf(DeltaReader.scan(table).get.count())
      val (plainJobs, m) = jobsOf(DeltaReader.scan(plain).get.count())
      assert(n == 6L && m == 8L)
      assert(maskedJobs == plainJobs, s"masked count ran $maskedJobs jobs, plain $plainJobs")
    }
  }
}
