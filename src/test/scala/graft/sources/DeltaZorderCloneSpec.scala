package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** OPTIMIZE ZORDER BY (Morton-curve clustering rewrite) and SHALLOW
  * CLONE (zero-copy absolute-path fork) on real `_delta_log` tables:
  * the z-value kernel's bit algebra, logical invisibility of the
  * rewrite (rows, streams), multi-column skipping effectiveness, and
  * the clone's independence from — and DV fidelity to — its source. */
class DeltaZorderCloneSpec extends SparkSpec {
  import spark.implicits._

  implicit private val s: org.apache.spark.sql.SparkSession = spark
  graft.functions.catalyst.GraftFunctions.register(spark)

  // ---- graft_zvalue kernel ------------------------------------------

  test("zvalue: buckets by binary search and interleaves MSB-first") {
    // 2 cols, 3 boundaries each (perCol=3, bits=2): buckets in [0,3]
    // col0 bounds [10,20,30], col1 bounds [1,2,3]
    val df = Seq(
      (5.0, 0.5),   // buckets (0,0) -> z 0
      (15.0, 0.5),  // buckets (1,0) -> bits (01,00) -> 0b0100 >> wait: MSB-first interleave c0,c1 = 0,0,1,0 = 2
      (35.0, 9.0)   // buckets (3,3) -> 1,1,1,1 = 15
    ).toDF("a", "b")
    val out = df.selectExpr(
      "graft_zvalue(array(a, b), array(10D,20D,30D, 1D,2D,3D), 3) AS z")
      .collect().map(_.getLong(0)).toSeq
    // hand-interleave: z = c0hi c1hi c0lo c1lo
    def z(b0: Int, b1: Int): Long =
      (((b0 >> 1) & 1) << 3 | ((b1 >> 1) & 1) << 2 |
        (b0 & 1) << 1 | (b1 & 1)).toLong
    assert(out == Seq(z(0, 0), z(1, 0), z(3, 3)))
  }

  test("zvalue: NULL buckets to 0, NaN above every boundary, boundary value is inclusive-left") {
    val df = Seq(
      (Some(Double.NaN), Some(2.0)),     // NaN -> bucket 3
      (None: Option[Double], Some(2.0)), // null -> bucket 0
      (Some(20.0), Some(2.0))            // exactly a boundary: b <= v counts
    ).toDF("a", "b")
    val out = df.selectExpr(
      "graft_zvalue(array(a, b), array(10D,20D,30D, 1D,2D,3D), 3) AS z")
      .collect().map(_.getLong(0)).toSeq
    def z(b0: Int, b1: Int): Long =
      (((b0 >> 1) & 1) << 3 | ((b1 >> 1) & 1) << 2 |
        (b0 & 1) << 1 | (b1 & 1)).toLong
    assert(out == Seq(z(3, 2), z(0, 2), z(2, 2)))
  }

  test("zvalue: z-order preserves locality — nearby points share high bits") {
    // one col degenerates to plain bucketing: z is monotone in value
    val vals = Seq(1.0, 5.0, 9.0, 13.0).toDF("a")
    val zs = vals.selectExpr(
      "graft_zvalue(array(a), array(4D,8D,12D), 3) AS z")
      .collect().map(_.getLong(0)).toSeq
    assert(zs == Seq(0L, 1L, 2L, 3L))
  }

  test("zvalue: row arity mismatch against the boundary table raises") {
    val e = intercept[Exception] {
      Seq((1.0, 2.0)).toDF("a", "b").selectExpr(
        "graft_zvalue(array(a, b), array(1D,2D,3D), 3)").collect()
    }
    assert(e.getMessage != null)
  }

  // ---- OPTIMIZE ZORDER BY -------------------------------------------

  test("zorder: logically invisible — same rows, dataChange=false, DVs materialized away") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      val df = (0L until 4000L).map(i =>
        (i, i % 61, (i * 7) % 53, s"v$i")).toDF("k", "x", "y", "v")
      ds.write(df.repartition(6))                       // v0
      ds.delete(col("k") % 10 === 3)                    // v1: DV masks
      val before = DeltaReader.scan(table).get
      val beforeRows = before.collect().toSeq
      val v = ds.zorder(Seq("x", "y"), targetFileBytes = 16L * 1024)
      assert(v == 2L)
      val snap = DeltaReader.snapshot(table).get
      assert(snap.files.forall(_.deletionVector.isEmpty),
        "masks must be materialized away by the rewrite")
      assertSameData(DeltaReader.scan(table).get,
        spark.createDataFrame(
          spark.sparkContext.parallelize(beforeRows), before.schema))
      // a stream over the change feed must see NOTHING for the
      // zorder commit: dataChange=false end to end
      val changes = DeltaChanges.readChanges(table, 1L, Some(2L)).get
      assert(changes.isEmpty,
        "zorder must be invisible to the change feed")
    }
  }

  test("zorder: multi-column skipping — point ranges on EITHER column prune files") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      // uniform grid so quantile buckets split both dimensions well
      val df = (0L until 8000L).map(i =>
        (i % 89, (i * 31) % 97, i)).toDF("x", "y", "k")
      ds.write(df.repartition(4))
      ds.zorder(Seq("x", "y"), targetFileBytes = 8L * 1024)
      val snap = DeltaReader.snapshot(table).get
      assert(snap.files.size >= 4, s"need a real split, got ${snap.files.size}")
      Seq("x", "y").foreach { c =>
        val kept = DeltaReader.prunedSnapshot(table,
          Seq((c, "0", "0"))).get.files.size
        assert(kept < snap.files.size,
          s"point range on $c kept $kept/${snap.files.size} — no skipping")
        assert(kept >= 1, s"point range on $c over-pruned to zero files")
      }
      // pruned read == unpruned filter (soundness, not just file counts)
      assertSameData(
        DeltaReader.scanPruned(table, Seq(("x", "0", "0"))).get
          .where(col("x") === 0),
        DeltaReader.scan(table).get.where(col("x") === 0))
    }
  }

  test("zorder: partitioned table — clustering within partitions, partition zCols refused") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      val df = (0L until 3000L).map(i =>
        (s"p${i % 3}", i % 71, i)).toDF("p", "x", "k")
      ds.write(df.repartition(4))
      intercept[IllegalArgumentException] { ds.zorder(Seq("p")) }
      val before = DeltaReader.scan(table).get.collect().toSeq.sortBy(_.toString)
      ds.zorder(Seq("x"), targetFileBytes = 8L * 1024)
      val snap = DeltaReader.snapshot(table).get
      assert(snap.partitionColumns == Seq("p"))
      assert(snap.files.forall(f => f.partitionValues.keySet == Set("p")),
        "rewritten files must keep their partition ownership")
      assert(DeltaReader.scan(table).get.collect().toSeq
        .sortBy(_.toString) == before)
    }
  }

  test("zorder: strings cluster by byte prefix; date/timestamp columns supported") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      val df = (0 until 2000).map { i =>
        (f"key${i % 50}%03d", java.sql.Date.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays(i % 300)), i.toLong)
      }.toDF("name", "d", "k")
      ds.write(df.repartition(4))
      ds.zorder(Seq("name", "d"), targetFileBytes = 8L * 1024)
      val snap = DeltaReader.snapshot(table).get
      if (snap.files.size >= 4) {
        val kept = DeltaReader.prunedSnapshot(table,
          Seq(("name", "key000", "key001"))).get.files.size
        assert(kept < snap.files.size,
          s"string prefix range kept $kept/${snap.files.size}")
      }
      assertSameData(DeltaReader.scan(table).get, df)
    }
  }

  test("zorder: a real column named like the working columns refuses instead of vanishing") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq((1L, 2L)).toDF("__z", "x"))
      val e = intercept[IllegalArgumentException] { ds.zorder(Seq("x")) }
      assert(e.getMessage.contains("reserved"))
    }
  }

  // ---- SHALLOW CLONE --------------------------------------------------

  test("clone: reads the exact source snapshot, deletion vectors included, zero bytes copied") {
    withTempDir { dir =>
      val src = s"$dir/src"
      val dst = s"$dir/dst"
      val ds = new DeltaDataset(src)
      ds.write((0L until 500L).map(i => (i, s"s$i")).toDF("k", "v")
        .repartition(3))
      ds.delete(col("k") % 7 === 0)                    // 'u' DV sidecars
      assert(DeltaWriter.cloneShallow(src, dst) == 0L)
      val cloneSnap = DeltaReader.snapshot(dst).get
      assert(cloneSnap.files.forall(_.path.contains("/src/")),
        "every clone add must dereference the source root")
      assert(cloneSnap.files.forall(f =>
        f.deletionVector.forall(_.storageType == "p")),
        "source-relative 'u' DVs must be re-addressed as absolute 'p'")
      assertSameData(DeltaReader.scan(dst).get, DeltaReader.scan(src).get)
    }
  }

  test("clone: histories are independent in both directions") {
    withTempDir { dir =>
      val src = s"$dir/src"
      val dst = s"$dir/dst"
      val sds = new DeltaDataset(src)
      sds.write((0L until 100L).map(i => (i, s"s$i")).toDF("k", "v"))
      DeltaWriter.cloneShallow(src, dst)
      val dds = new DeltaDataset(dst)
      // clone-side write: source untouched
      dds.append((100L until 150L).map(i => (i, s"c$i")).toDF("k", "v"))
      assert(DeltaReader.scan(src).get.count() == 100L)
      assert(DeltaReader.scan(dst).get.count() == 150L)
      // source-side write: clone untouched (it pinned v0's files)
      sds.append((900L until 950L).map(i => (i, s"x$i")).toDF("k", "v"))
      assert(DeltaReader.scan(dst).get.count() == 150L)
      // clone-side delete masks a SOURCE file without touching it
      dds.delete(col("k") < 10)
      assert(DeltaReader.scan(dst).get.count() == 140L)
      assert(DeltaReader.scan(src).get.count() == 150L)
    }
  }

  test("clone: an overwrite of the clone removes the source's files by their absolute paths") {
    withTempDir { dir =>
      val src = s"$dir/src"
      val dst = s"$dir/dst"
      new DeltaDataset(src).write((0L until 10L).map(i => (i, s"s$i")).toDF("k", "v"))
      DeltaWriter.cloneShallow(src, dst)
      val srcFiles = DeltaReader.snapshot(src).get.files
        .map(f => new org.apache.hadoop.fs.Path(f.path).toUri.toString)
      assert(new DeltaDataset(dst).write(Seq((7L, "c7")).toDF("k", "v")) == 1L)
      val removed = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dst, "_delta_log", "%020d.json".format(1))), "UTF-8")
        .split("\n").filter(_.startsWith("{\"remove\"")).toSeq
      assert(removed.size == srcFiles.size && srcFiles.forall(p => removed.exists(_.contains(p))))
      assertSameData(DeltaReader.scan(dst).get, Seq((7L, "c7")).toDF("k", "v"))
      assert(DeltaReader.scan(dst, Some(0L)).get.count() == 10L)
      assert(DeltaReader.scan(src).get.count() == 10L)
    }
  }

  test("clone: time-travel clone pins the asked-for version; existing destination refused") {
    withTempDir { dir =>
      val src = s"$dir/src"
      val dst = s"$dir/dst"
      val sds = new DeltaDataset(src)
      sds.write((0L until 50L).map(i => (i, s"a$i")).toDF("k", "v"))   // v0
      sds.append((50L until 80L).map(i => (i, s"b$i")).toDF("k", "v")) // v1
      DeltaWriter.cloneShallow(src, dst, asOfVersion = Some(0L))
      assert(DeltaReader.scan(dst).get.count() == 50L,
        "the clone must reference v0's file set, not the head's")
      intercept[IllegalArgumentException] {
        DeltaWriter.cloneShallow(src, dst)
      }
      intercept[IllegalArgumentException] {
        DeltaWriter.cloneShallow(src, src)
      }
    }
  }

  test("clone: history records CLONE; configuration and protocol carry over") {
    withTempDir { dir =>
      val src = s"$dir/src"
      val dst = s"$dir/dst"
      val sds = new DeltaDataset(src)
      sds.write((0L until 40L).map(i => (i, i * 2)).toDF("k", "w"))
      sds.delete(col("k") === 1L) // upgrades protocol to DV features
      DeltaWriter.cloneShallow(src, dst)
      val srcSnap = DeltaReader.snapshot(src).get
      val dstSnap = DeltaReader.snapshot(dst).get
      assert(dstSnap.protocol == srcSnap.protocol,
        "the clone must demand exactly the features the source does")
      assert(dstSnap.tableId != srcSnap.tableId,
        "the clone must mint its own table id")
      val op = new DeltaDataset(dst).history().get
        .orderBy(col("version")).head().getString(2)
      assert(op == "CLONE")
    }
  }

  test("clone: a row-tracked source's row ids and watermark carry over") {
    withTempDir { dir =>
      val src = s"$dir/src"
      val dst = s"$dir/dst"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
      val logDir = java.nio.file.Paths.get(src, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.write(logDir.resolve("%020d.json".format(0)), (Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
          """"writerFeatures":["rowTracking","domainMetadata"]}}""",
        s"""{"metaData":{"id":"rt","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${schema.json.replace("\"", "\\\"")}","partitionColumns":[],""" +
          """"configuration":{"delta.enableRowTracking":"true"},"createdTime":1700000000000}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
      new DeltaDataset(src).append(Seq(10L, 11L).toDF("v").coalesce(1))
      def ids(table: String): Map[Long, java.lang.Long] =
        DeltaReader.scanWithRowIds(table).get.select(col("v"), col("_row_id")).collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else Long.box(r.getLong(1)))).toMap
      val srcIds = ids(src)
      assert(srcIds.values.forall(_ != null) && srcIds.size == 2)
      DeltaWriter.cloneShallow(src, dst)
      assert(ids(dst) == srcIds, "clone rows keep their source row ids")
      new DeltaDataset(dst).append(Seq(12L).toDF("v"))
      val hwm = DeltaWriter.rowIdHighWaterMark(DeltaReader.snapshot(src).get)
      assert(ids(dst)(12L) > hwm,
        s"a row appended to the clone gets an id above the source's watermark $hwm")
    }
  }
}
