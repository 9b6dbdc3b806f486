package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Deletion-vector codecs and the DV read path, against the PUBLIC
  * protocol formats only (delta.io PROTOCOL.md + RoaringFormatSpec):
  * Z85 known vectors, roaring round trips across all container
  * kinds, DV file framing with CRC refusal, and end-to-end masked
  * reads over hand-built `_delta_log` fixtures in all three storage
  * modes. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._
  import DeletionVectors._

  // ---- Z85 ----------------------------------------------------------

  test("z85: the RFC 32 reference vector and byte round trips") {
    // https://rfc.zeromq.org/spec/32: 86 4F D2 6F B5 59 F7 5B <-> HelloWorld
    val hello = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b)
      .map(_.toByte)
    assert(z85Encode(hello) == "HelloWorld")
    assert(z85Decode("HelloWorld").toSeq == hello.toSeq)
    // arbitrary bytes round-trip, including 0x00 and 0xff runs
    val bytes = (0 until 64).map(i => ((i * 37 + 11) % 256).toByte).toArray
    assert(z85Decode(z85Encode(bytes)).toSeq == bytes.toSeq)
    val uuid = java.util.UUID.fromString("d2c639aa-8816-431a-aaf6-d3fe2512ff61")
    assert(encodeUUID(uuid).length == 20)
    assert(decodeUUID(encodeUUID(uuid)) == uuid)
  }

  // ---- RoaringBitmapArray portable format ----------------------------

  test("roaring round trip: array, bitmap, and multi-key containers") {
    // array container (sparse)
    val sparse = Seq(0L, 1L, 7L, 65535L, 65536L, 100000L)
    assert(deserialize(serialize(sparse)).toSeq == sparse)
    // bitmap container: > 4096 values inside one 16-bit block
    val dense = (0L until 5000L).map(_ * 13L % 65536L).distinct.sorted
    assert(deserialize(serialize(dense)).toSeq == dense)
    // multi-key: row indexes past 2^32 (a legal parquet row_index in
    // a multi-billion-row file) split across 32-bit bitmaps
    val wide = Seq(5L, (1L << 32) + 3L, (1L << 32) + 4L, (7L << 32) | 123456L)
    assert(deserialize(serialize(wide)).toSeq == wide)
    // duplicates collapse, order normalizes
    assert(deserialize(serialize(Seq(9L, 2L, 9L, 2L))).toSeq == Seq(2L, 9L))
  }

  test("roaring deserialize accepts run containers (cookie 12347)") {
    // hand-build: magic + 1 bitmap (key 0) with cookie 12347, one RUN
    // container, runs [(10, len 2), (100, len 0)] -> {10,11,12,100}
    val bm = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
    bm.putInt(Magic)
    bm.putLong(1L)          // one 32-bit bitmap
    bm.putInt(0)            // key = high 32 bits
    bm.putInt(12347 | (0 << 16)) // run cookie, size-1 = 0 -> 1 container
    bm.put(1.toByte)        // run-flag bitset: container 0 is a run
    bm.putShort(0.toShort)  // container key (high 16)
    bm.putShort(3.toShort)  // cardinality - 1
    // n < 4 with run cookie -> NO offset header
    bm.putShort(2.toShort)  // nRuns
    bm.putShort(10.toShort); bm.putShort(2.toShort)
    bm.putShort(100.toShort); bm.putShort(0.toShort)
    val data = java.util.Arrays.copyOf(bm.array(), bm.position())
    assert(deserialize(data).toSeq == Seq(10L, 11L, 12L, 100L))
  }

  test("DV file framing: size word + CRC verified, corruption refused") {
    val data = serialize(Seq(1L, 5L, 9L))
    val framed = frame(data)
    // file layout: version byte, then the frame at offset 1
    val file = (Array(FileFormatVersion) ++ framed)
    assert(unframe(file, 1, data.length).toSeq == data.toSeq)
    // flip one bitmap byte -> CRC refusal, not silent wrong rows
    val corrupt = file.clone()
    corrupt(9) = (corrupt(9) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException](
      unframe(corrupt, 1, data.length))
    assert(e.getMessage.contains("CRC"))
    // size-word mismatch with the descriptor is refused too
    val e2 = intercept[IllegalArgumentException](
      unframe(file, 1, data.length - 1))
    assert(e2.getMessage.toLowerCase.contains("size"))
  }

  // ---- the _metadata join-key contract -------------------------------

  test("_metadata.file_path equals hadoop Path.toUri.toString (the DV join key)") {
    withTempDir { dir =>
      val sub = Paths.get(dir, "p=A")
      Files.createDirectories(sub)
      val f = s"$dir/p=A/f 1.parquet" // space forces the encoding question
      Seq(1L, 2L).toDF("v").coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/tmpw")
      val part = Files.list(Paths.get(s"$dir/tmpw"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(part, Paths.get(f))
      val seen = spark.read.parquet(f)
        .select(col("_metadata.file_path")).distinct().collect()
        .map(_.getString(0)).toSeq
      // DeltaReader's exact key derivation: qualify against the table
      // root, render to a Path STRING (this drops makeQualified's
      // empty authority: file:///x -> file:/x), re-parse, toUri
      val hp = new org.apache.hadoop.fs.Path(f)
      val qualifiedString = hp
        .getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(hp).toString
      val expected = new org.apache.hadoop.fs.Path(qualifiedString)
        .toUri.toString
      assert(seen == Seq(expected),
        s"Spark's file_path rendering changed: $seen vs $expected — " +
          "DeltaReader's DV anti-join key derivation must follow")
    }
  }

  // ---- end-to-end masked reads ---------------------------------------

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType)))

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def metaJson(conf: String = "{}"): String =
    s"""{"metaData":{"id":"dvfix","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${esc(schema.json)}","partitionColumns":[],""" +
      s""""configuration":$conf,"createdTime":1700000000000}}"""

  private val dvProto =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors"],""" +
      """"writerFeatures":["deletionVectors"]}}"""

  private def addJson(path: String, dv: String = null): String = {
    val dvPart = if (dv == null) "" else s""","deletionVector":$dv"""
    s"""{"add":{"path":"$path","partitionValues":{},"size":100,""" +
      s""""modificationTime":1700000000000,"dataChange":true$dvPart}}"""
  }

  private def removeJson(path: String): String =
    s"""{"remove":{"path":"$path","deletionTimestamp":1700000001000,""" +
      s""""dataChange":true}}"""

  private def writeCommit(table: String, version: Long,
                          lines: Seq[String]): Unit = {
    val dir = Paths.get(table, "_delta_log")
    Files.createDirectories(dir)
    Files.write(dir.resolve(f"$version%020d.json"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  private def writeDataFile(df: DataFrame, table: String,
                            relPath: String): Unit = {
    val tmp = Files.createTempDirectory("dv-frag")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val dest = Paths.get(table, relPath)
      Files.createDirectories(dest.getParent)
      Files.copy(part, dest)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  /** Write a protocol-shaped DV sidecar holding `masks` and return
    * the descriptor JSON for storage type `u`. */
  private def writeSidecar(table: String, masks: Seq[Long]): String = {
    val uuid = java.util.UUID.randomUUID()
    val data = serialize(masks)
    val framed = frame(data)
    val file = Paths.get(table, s"deletion_vector_$uuid.bin")
    Files.write(file, Array(FileFormatVersion) ++ framed,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    s"""{"storageType":"u","pathOrInlineDv":"${encodeUUID(uuid)}",""" +
      s""""offset":1,"sizeInBytes":${data.length},""" +
      s""""cardinality":${masks.size}}"""
  }

  test("sidecar ('u') deletion vector masks rows; time travel restores them") {
    withTempDir { dir =>
      val table = s"$dir/t"
      writeDataFile(Seq(10L, 11L, 12L, 13L, 14L).toDF("v"), table, "f1.parquet")
      writeCommit(table, 0L, Seq(dvProto, metaJson(), addJson("f1.parquet")))
      // v1: delete row indexes 1 and 3 — remove + re-add with the DV
      val dv = writeSidecar(table, Seq(1L, 3L))
      writeCommit(table, 1L, Seq(
        removeJson("f1.parquet"), addJson("f1.parquet", dv)))
      assertSameData(DeltaReader.scan(table).get,
        Seq(10L, 12L, 14L).toDF("v"))
      // the pre-DV snapshot still reads every row
      assertSameData(DeltaReader.scan(table, Some(0L)).get,
        Seq(10L, 11L, 12L, 13L, 14L).toDF("v"))
      val snap = DeltaReader.snapshot(table).get
      assert(snap.files.head.deletionVector.exists(_.cardinality == 2L))
    }
  }

  test("inline ('i') and absolute-path ('p') storage modes mask identically") {
    withTempDir { dir =>
      val table = s"$dir/t"
      writeDataFile(Seq(1L, 2L, 3L).toDF("v"), table, "f1.parquet")
      writeDataFile(Seq(4L, 5L, 6L).toDF("v"), table, "f2.parquet")
      val inlineData = serialize(Seq(0L, 2L)) // drop 1 and 3
      val inline = s"""{"storageType":"i",""" +
        s""""pathOrInlineDv":"${z85Encode(padTo4(inlineData))}",""" +
        s""""sizeInBytes":${padTo4(inlineData).length},"cardinality":2}"""
      // 'p': the framed sidecar parked OUTSIDE the table
      val pData = serialize(Seq(1L)) // drop 5
      val pFile = Paths.get(dir, "elsewhere.bin")
      Files.write(pFile, Array(FileFormatVersion) ++ frame(pData))
      val pDesc = s"""{"storageType":"p",""" +
        s""""pathOrInlineDv":"${esc(pFile.toString)}",""" +
        s""""offset":1,"sizeInBytes":${pData.length},"cardinality":1}"""
      writeCommit(table, 0L, Seq(dvProto, metaJson(),
        addJson("f1.parquet", inline), addJson("f2.parquet", pDesc)))
      assertSameData(DeltaReader.scan(table).get,
        Seq(2L, 4L, 6L).toDF("v"))
    }
  }

  test("a corrupt sidecar raises instead of resurrecting deleted rows") {
    withTempDir { dir =>
      val table = s"$dir/t"
      writeDataFile(Seq(1L, 2L).toDF("v"), table, "f1.parquet")
      val dv = writeSidecar(table, Seq(0L))
      // truncate the sidecar behind the descriptor's back
      val side = Files.list(Paths.get(table))
        .filter(_.getFileName.toString.startsWith("deletion_vector_"))
        .findFirst().get()
      val bytes = Files.readAllBytes(side)
      bytes(6) = (bytes(6) ^ 0x11).toByte
      Files.write(side, bytes, StandardOpenOption.TRUNCATE_EXISTING)
      writeCommit(table, 0L, Seq(dvProto, metaJson(), addJson("f1.parquet", dv)))
      val e = intercept[Exception](DeltaReader.scan(table).get.collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString("\n")
      assert(messages.contains("CRC"), s"wanted a CRC refusal, got:\n$messages")
    }
  }

  test("vacuum keeps a live 'p'-mode deletion-vector file inside the table") {
    withTempDir { dir =>
      val table = s"$dir/t"
      writeDataFile(Seq(1L, 2L, 3L).toDF("v"), table, "f1.parquet")
      // the p-mode sidecar lives INSIDE the table tree and is OLD —
      // unreferenced it would be vacuum fodder; referenced by the
      // head's descriptor it must survive any retention
      val pData = serialize(Seq(1L)) // drop 2
      val pFile = Paths.get(table, "imported_dv.bin")
      Files.write(pFile, Array(FileFormatVersion) ++ frame(pData))
      Files.setLastModifiedTime(pFile,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis - 100000000L))
      val pDesc = s"""{"storageType":"p",""" +
        s""""pathOrInlineDv":"${esc(pFile.toString)}",""" +
        s""""offset":1,"sizeInBytes":${pData.length},"cardinality":1}"""
      writeCommit(table, 0L, Seq(dvProto, metaJson(),
        addJson("f1.parquet", pDesc)))
      assert(DeltaWriter.vacuum(table, 0L) == 0)
      assert(Files.exists(pFile))
      // the head keeps reading the same rows — vacuum's own contract
      assertSameData(DeltaReader.scan(table).get, Seq(1L, 3L).toDF("v"))
    }
  }

  test("DeltaWriter append preserves another writer's deletion vectors") {
    withTempDir { dir =>
      val table = s"$dir/t"
      writeDataFile(Seq(10L, 11L, 12L).toDF("v"), table, "f1.parquet")
      val dv = writeSidecar(table, Seq(1L))
      writeCommit(table, 0L, Seq(dvProto, metaJson(), addJson("f1.parquet", dv)))
      val v = DeltaWriter.write(table, Seq(20L, 21L).toDF("v"),
        Seq.empty, overwrite = false)
      assert(v == 1L)
      assertSameData(DeltaReader.scan(table).get,
        Seq(10L, 12L, 20L, 21L).toDF("v"))
    }
  }

  test("checkpoints written by DeltaWriter carry deletion vectors through") {
    withTempDir { dir =>
      val table = s"$dir/t"
      writeDataFile(Seq(10L, 11L, 12L).toDF("v"), table, "f1.parquet")
      val dv = writeSidecar(table, Seq(1L))
      // interval 2 so the writer checkpoints at its very next commits
      writeCommit(table, 0L, Seq(dvProto,
        metaJson("""{"delta.checkpointInterval":"2"}"""),
        addJson("f1.parquet", dv)))
      DeltaWriter.write(table, Seq(20L).toDF("v"), Seq.empty, overwrite = false)
      DeltaWriter.write(table, Seq(30L).toDF("v"), Seq.empty, overwrite = false)
      val logDir = Paths.get(table, "_delta_log")
      assert(Files.exists(logDir.resolve(f"${2L}%020d.checkpoint.parquet")))
      // vacuum every JSON commit the checkpoint covers: the DV mask
      // must survive the replay-from-checkpoint
      (0L to 2L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
      assertSameData(DeltaReader.scan(table).get,
        Seq(10L, 12L, 20L, 30L).toDF("v"))
      val lc = new String(Files.readAllBytes(
        logDir.resolve("_last_checkpoint")), "UTF-8")
      assert(lc.contains("\"version\":2"))
    }
  }

  // ---- DV-writing DELETE ---------------------------------------------

  test("delete masks rows behind sidecars, upgrades the protocol, keeps time travel") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq(1L, 2L, 3L, 4L).toDF("v"))      // v0
      ds.append(Seq(5L, 6L).toDF("v"))             // v1
      val v2 = ds.delete(col("v") % 2 === 0)
      assert(v2 == 2L)
      assertSameData(ds.scan().get, Seq(1L, 3L, 5L).toDF("v"))
      // pre-delete state is one time-travel hop away — no file was
      // rewritten or removed from disk
      assertSameData(DeltaReader.scan(table, Some(1L)).get,
        Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("v"))
      val snap = DeltaReader.snapshot(table).get
      assert(snap.protocol.minReaderVersion == 3)
      assert(snap.protocol.readerFeatures.exists(_.contains("deletionVectors")))
      assert(snap.protocol.writerFeatures.exists(f =>
        f.contains("deletionVectors") && f.contains("appendOnly")))
      assert(snap.files.flatMap(_.deletionVector).map(_.cardinality).sum == 3L)
      // a SECOND delete must merge with the standing masks, not
      // replace them: 3 drops again-masked rows would resurrect 2,4,6
      val v3 = ds.delete(col("v") === 3L)
      assert(v3 == 3L)
      assertSameData(ds.scan().get, Seq(1L, 5L).toDF("v"))
      // no-match delete: no commit at all
      assert(ds.delete(col("v") === 999L) == 3L)
      assert(!java.nio.file.Files.exists(
        Paths.get(table, "_delta_log", f"${4L}%020d.json")))
    }
  }

  test("delete with a partition-column predicate masks across partitioned files") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write(Seq((1L, "A"), (2L, "A"), (10L, "B"), (11L, "B"))
        .toDF("v", "p"))
      // mixed predicate: partition literal AND data column. The
      // partition conjunct prunes B's files before the scan: unreadable
      // during the delete, they are never opened
      val bFiles = DeltaReader.snapshot(table).get.files.filter(_.path.contains("p=B"))
        .map(f => Paths.get(new java.net.URI(f.path)))
      val saved = bFiles.map(p => p -> Files.readAllBytes(p))
      bFiles.foreach(Files.write(_, "not parquet".getBytes))
      val v1 = ds.delete(col("p") === "A" && col("v") > 1L)
      saved.foreach { case (p, bytes) => Files.write(p, bytes) }
      assert(v1 == 1L && bFiles.nonEmpty)
      assertSameData(ds.scan().get,
        Seq((1L, "A"), (10L, "B"), (11L, "B")).toDF("v", "p"))
      // targeted partition reads see the mask too
      assertSameData(ds.readPartition(Map("p" -> "A")).get,
        Seq((1L, "A")).toDF("v", "p"))
    }
  }

  test("a delete on a DV'd file merges old and new masks; an untouched DV'd file is not re-added") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write((1L to 8L).map(i => (i, if (i <= 4) "A" else "B"))
        .toDF("v", "p").coalesce(1))                     // v0: one file per partition
      ds.delete(col("v") === 1L || col("v") === 5L)       // v1: a DV on both files
      val before = DeltaReader.snapshot(table).get.files
        .map(f => f.partitionValues("p") -> f).toMap
      assert(before.values.forall(_.deletionVector.exists(_.cardinality == 1L)))
      assert(ds.delete(col("v") === 2L || col("v") === 3L) == 2L)  // touches A only
      val after = DeltaReader.snapshot(table).get.files
        .map(f => f.partitionValues("p") -> f).toMap
      val dvA = after("A").deletionVector.get
      assert(dvA.cardinality == 3L, "old (1) + new (2) masked rows")
      assert(rowIndexes(dvA, DeltaReader.snapshot(table).get.root,
        spark.sessionState.newHadoopConf()).toSeq == Seq(0L, 1L, 2L))
      assert(after("B") == before("B"), "the untouched file keeps its descriptor")
      val v2 = new String(Files.readAllBytes(
        Paths.get(table, "_delta_log", f"${2L}%020d.json")), "UTF-8")
      assert(v2.split("\n").count(_.startsWith("{\"add\"")) == 1 &&
        v2.split("\n").count(_.startsWith("{\"remove\"")) == 1 && !v2.contains("p=B"),
        s"only the touched file is removed and re-added:\n$v2")
      assertSameData(ds.scan().get,
        Seq((4L, "A"), (6L, "B"), (7L, "B"), (8L, "B")).toDF("v", "p"))
    }
  }

  /** Z85 needs 4-byte alignment; inline payloads pad with trailing
    * zero bytes the deserializer never reads (bitmap count bounds
    * the parse). */
  private def padTo4(data: Array[Byte]): Array[Byte] =
    if (data.length % 4 == 0) data
    else java.util.Arrays.copyOf(data, data.length + (4 - data.length % 4))
}
