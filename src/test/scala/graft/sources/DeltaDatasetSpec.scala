package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Reference-surface Delta writes against the public `_delta_log`
  * protocol (delta_dataset.py:20-39): create/append/overwrite
  * round-trips through [[DeltaReader]], time travel across
  * overwrites, loud validation raises, commit numbering under an
  * interloper, and remove-path re-encoding of URL-encoded names. */
class DeltaDatasetSpec extends SparkSpec {
  import spark.implicits._

  implicit private val s: org.apache.spark.sql.SparkSession = spark

  test("write then scan round-trips a partitioned table; commit 0 carries the metadata") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      val v0 = ds.write(Seq((1L, "A"), (2L, "A"), (30L, "B")).toDF("v", "p"))
      assert(v0 == 0L)
      assertSameData(ds.scan().get,
        Seq((1L, "A"), (2L, "A"), (30L, "B")).toDF("v", "p"))
      val snap = DeltaReader.snapshot(table).get
      assert(snap.partitionColumns == Seq("p"))
      assert(snap.schema.fieldNames.toSeq == Seq("v", "p"))
      // partition values live ONLY in the log — data files hold v alone
      assert(snap.files.forall(_.partitionValues.keySet == Set("p")))
      val log = Files.readAllLines(
        Paths.get(table, "_delta_log", f"${0L}%020d.json"))
      // commitInfo first (the convention every engine writes), then
      // protocol, then metaData
      assert(log.get(0).contains("\"operation\":\"WRITE\""))
      assert(log.get(1).contains("minReaderVersion"))
      assert(log.get(2).contains("schemaString"))
    }
  }

  test("append commits v1; time travel still reads the pre-append state") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write(Seq((1L, "A")).toDF("v", "p"))
      val v1 = ds.append(Seq((2L, "B")).toDF("v", "p"))
      assert(v1 == 1L)
      assertSameData(ds.scan().get, Seq((1L, "A"), (2L, "B")).toDF("v", "p"))
      assertSameData(DeltaReader.scan(table, Some(0L)).get,
        Seq((1L, "A")).toDF("v", "p"))
      assertSameData(ds.readPartition(Map("p" -> "B")).get,
        Seq((2L, "B")).toDF("v", "p"))
    }
  }

  test("a partitioned append runs one Spark job; partitions come from the staged write") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p", "n"))
      ds.write(Seq((1L, "A", 1)).toDF("v", "p", "n"))
      val (jobs, v1) = jobsOf(ds.append(Seq((2L, "B", 1), (3L, "B", 2), (4L, "A", 1)).toDF("v", "p", "n")))
      assert(jobs == 1, s"partitioned append ran $jobs jobs")
      assert(v1 == 1L)
      val added = DeltaReader.snapshot(table).get.files.map(_.partitionValues).toSet
      assert(added == Set(Map("p" -> "A", "n" -> "1"), Map("p" -> "B", "n" -> "1"),
        Map("p" -> "B", "n" -> "2")))
      assertSameData(ds.scan().get,
        Seq((1L, "A", 1), (2L, "B", 1), (3L, "B", 2), (4L, "A", 1)).toDF("v", "p", "n"))
      // an empty append lands nothing and still commits
      assert(ds.append(Seq.empty[(Long, String, Int)].toDF("v", "p", "n")) == 2L)
      assert(DeltaReader.snapshot(table).get.files.length == 4)
      assert(!new java.io.File(table).list().exists(_.startsWith("staging-")))
    }
  }

  test("overwrite replaces the head but time travel keeps every version") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write(Seq((1L, "A"), (2L, "B")).toDF("v", "p"))
      ds.append(Seq((3L, "B")).toDF("v", "p"))
      val v2 = ds.write(Seq((9L, "C")).toDF("v", "p"))
      assert(v2 == 2L)
      assertSameData(ds.scan().get, Seq((9L, "C")).toDF("v", "p"))
      assertSameData(DeltaReader.scan(table, Some(1L)).get,
        Seq((1L, "A"), (2L, "B"), (3L, "B")).toDF("v", "p"))
    }
  }

  test("unpartitioned tables write and append") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq((1L, "x"), (2L, "y")).toDF("v", "s"))
      ds.append(Seq((3L, "z")).toDF("v", "s"))
      assertSameData(ds.scan().get,
        Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("v", "s"))
    }
  }

  test("validation raises: schema drift, partition mismatch, partition-only frame") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write(Seq((1L, "A")).toDF("v", "p"))
      val drifted = intercept[IllegalArgumentException](
        ds.append(Seq(("x", "A")).toDF("v", "p")))
      assert(drifted.getMessage.contains("schema mismatch"))
      val repart = intercept[IllegalArgumentException](
        new DeltaDataset(table, Seq.empty).append(Seq((9L, "A")).toDF("v", "p")))
      assert(repart.getMessage.contains("partitioned by"))
      val thin = intercept[IllegalArgumentException](
        ds.write(Seq("A", "B").toDF("p")))
      assert(thin.getMessage.contains("more columns"))
      val nullPart = intercept[Exception](
        ds.append(Seq((1L, null: String)).toDF("v", "p")))
      assert(nullPart.getMessage.contains("null values"))
    }
  }

  test("an interloper commit advances the version; the writer follows the head") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write(Seq((1L, "A")).toDF("v", "p"))
      // a foreign no-op commit (unknown action, clipped on replay)
      Files.write(Paths.get(table, "_delta_log", f"${1L}%020d.json"),
        "{\"commitInfo\":{\"operation\":\"NOOP\"}}\n".getBytes("UTF-8"),
        StandardOpenOption.CREATE_NEW)
      assert(ds.append(Seq((2L, "B")).toDF("v", "p")) == 2L)
      assertSameData(ds.scan().get, Seq((1L, "A"), (2L, "B")).toDF("v", "p"))
    }
  }

  test("overwriting a hand-built table re-encodes URL-encoded remove paths") {
    withTempDir { dir =>
      val table = s"$dir/t"
      // hand-built v0 with an encoded file name, as a foreign writer
      // would leave it (the DeltaReaderSpec fixture shape)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.StringType)))
      val frag = Files.createTempDirectory("delta-frag")
      Seq(1L).toDF("v").coalesce(1).write.mode("overwrite")
        .parquet(frag.toString)
      val part = Files.list(frag)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = Paths.get(table, "p=A", "f 1.parquet")
      Files.createDirectories(dest.getParent)
      Files.copy(part, dest)
      val esc = schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
      val logDir = Paths.get(table, "_delta_log")
      Files.createDirectories(logDir)
      Files.write(logDir.resolve(f"${0L}%020d.json"), (Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"$esc","partitionColumns":["p"],""" +
          s""""configuration":{},"createdTime":1700000000000}}""",
        """{"add":{"path":"p=A/f%201.parquet","partitionValues":{"p":"A"},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
      val ds = new DeltaDataset(table, Seq("p"))
      val v1 = ds.write(Seq((7L, "B")).toDF("v", "p"))
      assert(v1 == 1L)
      // the remove must hit the ENCODED path string the add used
      val log1 = Files.readAllLines(logDir.resolve(f"${1L}%020d.json"))
      assert(log1.toString.contains("p=A/f%201.parquet"))
      assertSameData(ds.scan().get, Seq((7L, "B")).toDF("v", "p"))
      assertSameData(DeltaReader.scan(table, Some(0L)).get,
        Seq((1L, "A")).toDF("v", "p"))
    }
  }

  private def landFragment(dest: java.nio.file.Path, vals: Seq[Long]): Unit = {
    val frag = Files.createTempDirectory("delta-frag")
    vals.toDF("v").coalesce(1).write.mode("overwrite").parquet(frag.toString)
    val part = Files.list(frag)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.createDirectories(dest.getParent)
    Files.copy(part, dest)
  }

  private def writeLog(table: String, version: Long, lines: Seq[String]): Unit = {
    val logDir = Paths.get(table, "_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve(f"$version%020d.json"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private def escJson(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private val vpSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("p",
      org.apache.spark.sql.types.StringType)))

  test("delete's protocol upgrade surfaces the features a legacy writer version implies") {
    withTempDir { dir =>
      val table = s"$dir/t"
      landFragment(Paths.get(table, "p=A", "f1.parquet"), Seq(1L, 2L))
      // legacy minWriterVersion 4 implicitly carries appendOnly,
      // invariants, checkConstraints, changeDataFeed, generatedColumns
      writeLog(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
        s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vpSchema.json)}","partitionColumns":["p"],""" +
          s""""configuration":{},"createdTime":1700000000000}}""",
        """{"add":{"path":"p=A/f1.parquet","partitionValues":{"p":"A"},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val ds = new DeltaDataset(table, Seq("p"))
      ds.delete(org.apache.spark.sql.functions.col("v") === 1L)
      val log1 = Files.readAllLines(
        Paths.get(table, "_delta_log", f"${1L}%020d.json")).toString
      Seq("appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns", "deletionVectors").foreach { f =>
        assert(log1.contains(s""""$f""""), s"feature $f must survive the upgrade")
      }
      val proto = DeltaReader.snapshot(table).get.protocol
      assert(proto.minReaderVersion == 3 && proto.minWriterVersion == 7)
      assert(proto.writerFeatures.get.contains("changeDataFeed"))
      assertSameData(ds.scan().get, Seq((2L, "A")).toDF("v", "p"))
    }
  }

  test("delete refuses an append-only table") {
    withTempDir { dir =>
      val table = s"$dir/t"
      landFragment(Paths.get(table, "f1.parquet"), Seq(1L, 2L))
      val vSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      writeLog(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
          s""""configuration":{"delta.appendOnly":"true"},"createdTime":1700000000000}}""",
        """{"add":{"path":"f1.parquet","partitionValues":{},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val ds = new DeltaDataset(table)
      val e = intercept[IllegalArgumentException](
        ds.delete(org.apache.spark.sql.functions.col("v") === 1L))
      assert(e.getMessage.contains("append-only"))
      assertSameData(ds.scan().get, Seq(1L, 2L).toDF("v"))
    }
  }

  test("delete re-serializes a null partition value as JSON null") {
    withTempDir { dir =>
      val table = s"$dir/t"
      landFragment(Paths.get(table, "p=__HIVE_DEFAULT_PARTITION__", "f1.parquet"),
        Seq(1L, 2L, 3L))
      writeLog(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vpSchema.json)}","partitionColumns":["p"],""" +
          s""""configuration":{},"createdTime":1700000000000}}""",
        """{"add":{"path":"p=__HIVE_DEFAULT_PARTITION__/f1.parquet",""" +
          """"partitionValues":{"p":null},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val ds = new DeltaDataset(table, Seq("p"))
      ds.delete(org.apache.spark.sql.functions.col("v") === 2L)
      val log1 = Files.readAllLines(
        Paths.get(table, "_delta_log", f"${1L}%020d.json")).toString
      assert(log1.contains(""""partitionValues":{"p":null}"""))
      assertSameData(ds.scan().get,
        Seq((1L, null: String), (3L, null: String)).toDF("v", "p"))
    }
  }

  test("checkpoints carry absolute out-of-table add paths through verbatim") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val outside = s"$dir/elsewhere"
      landFragment(Paths.get(outside, "f1.parquet"), Seq(100L, 200L))
      val vSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      writeLog(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
          s""""configuration":{"delta.checkpointInterval":"1"},""" +
          s""""createdTime":1700000000000}}""",
        s"""{"add":{"path":"file:$outside/f1.parquet","partitionValues":{},""" +
          s""""size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val ds = new DeltaDataset(table)
      ds.append(Seq(300L).toDF("v"))
      val logDir = Paths.get(table, "_delta_log")
      // interval=1 → the append's own commit checkpoints; the absolute
      // path must ride through, not abort the (best-effort) checkpoint
      assert(Files.exists(logDir.resolve(f"${1L}%020d.checkpoint.parquet")))
      (0L to 1L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
      assertSameData(ds.scan().get, Seq(100L, 200L, 300L).toDF("v"))
    }
  }

  test("optimize rewrites masked files: every version identical, masked files leave the add set") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      // v0: two partitions; v1+v2: stacked deletes masking rows in both
      ds.write((1L to 20L).map(i => (i, if (i <= 10) "A" else "B"))
        .toDF("v", "p"))
      ds.delete($"v" % 2 === 0L)   // v1: evens gone
      ds.delete($"v" % 3 === 0L)   // v2: multiples of 3 gone (stacked)
      val expected = (0L to 2L).map(v =>
        DeltaReader.scan(table, Some(v)).get.collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet)
      val preFiles = DeltaReader.snapshot(table).get.files
      assert(preFiles.forall(_.deletionVector.isDefined))
      val v3 = ds.optimize(0.0) // rewrite everything carrying a mask
      assert(v3 == 3L)
      val snap = DeltaReader.snapshot(table).get
      // no survivor carries a DV; no pre-optimize path survives
      assert(snap.files.forall(_.deletionVector.isEmpty))
      val preFilePaths = preFiles.map(_.path).toSet
      assert(snap.files.forall(f => !preFilePaths.contains(f.path)))
      // the head scan equals the pre-optimize head scan...
      assert(DeltaReader.scan(table).get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == expected(2))
      // ...and every pre-rewrite version is still one hop away
      (0L to 2L).foreach { v =>
        assert(DeltaReader.scan(table, Some(v)).get.collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet == expected(v.toInt))
      }
      // a fully-masked partition: delete all of B, optimize again —
      // B's file leaves the add set with NO replacement
      ds.delete($"p" === "B")
      val v5 = ds.optimize(0.0)
      assert(v5 == 5L)
      val after = DeltaReader.snapshot(table).get
      assert(after.files.forall(_.deletionVector.isEmpty))
      assert(DeltaReader.readPartition(table, Map("p" -> "B")).get.count() == 0L)
      assert(DeltaReader.scan(table).get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet ==
        expected(2).filter(_._2 == "A"))
    }
  }

  test("optimize below threshold is a no-op; above it rewrites only the crossing file") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      // A: 10 rows, B: 2 rows, ONE file per partition (coalesced so
      // the per-file fractions are exactly 1/10 and 1/2)
      ds.write(((1L to 10L).map(i => (i, "A")) ++ Seq((100L, "B"), (101L, "B")))
        .toDF("v", "p").coalesce(1))
      ds.delete($"v" === 10L || $"v" === 101L)
      // nothing crosses 0.9
      assert(ds.optimize(0.9) == 1L)
      // 0.3 rewrites B's file (1/2 masked) but not A's (1/10)
      val v2 = ds.optimize(0.3)
      assert(v2 == 2L)
      val snap = DeltaReader.snapshot(table).get
      val (aFiles, bFiles) = snap.files.partition(
        _.partitionValues.get("p").contains("A"))
      assert(aFiles.forall(_.deletionVector.isDefined))
      assert(bFiles.forall(_.deletionVector.isEmpty))
      assertSameData(ds.scan().get,
        ((1L to 9L).map(i => (i, "A")) ++ Seq((100L, "B"))).toDF("v", "p"))
    }
  }

  test("restore rolls the head back to a prior version as a new commit") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write((1L to 6L).map(i => (i, if (i <= 3) "A" else "B"))
        .toDF("v", "p").coalesce(1))  // v0
      ds.append(Seq((7L, "A")).toDF("v", "p"))  // v1
      ds.delete($"v" % 2 === 0L)                // v2: DV masks
      ds.write(Seq((99L, "C")).toDF("v", "p"))  // v3: overwrite
      val want1 = DeltaReader.scan(table, Some(1L)).get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val want2 = DeltaReader.scan(table, Some(2L)).get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // restore to the pre-overwrite, pre-delete state
      assert(ds.restore(1L) == 4L)
      assert(DeltaReader.scan(table).get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == want1)
      // restoring to the DV-masked version re-adds files WITH masks
      assert(ds.restore(2L) == 5L)
      assert(DeltaReader.scan(table).get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == want2)
      // intermediate versions stay one hop away
      assert(DeltaReader.scan(table, Some(3L)).get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == Set((99L, "C")))
      // restoring to the state the head already equals is a no-op
      assert(ds.restore(2L) == 5L)
      // life goes on after a restore
      ds.append(Seq((100L, "A")).toDF("v", "p"))
      assert(DeltaReader.scan(table).get.count() == want2.size + 1L)
    }
  }

  test("in-commit timestamps: the log is the clock, strictly increasing, mtimes ignored") {
    withTempDir { dir =>
      val table = s"$dir/t"
      landFragment(Paths.get(table, "f0.parquet"), Seq(1L))
      val vSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      // creating commit carries its OWN in-commit timestamp, far in
      // the past — later writer commits must stamp strictly above it
      writeLog(table, 0L, Seq(
        """{"commitInfo":{"inCommitTimestamp":1700000000000}}""",
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
          """"writerFeatures":["inCommitTimestamp"]}}""",
        s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
          s""""configuration":{"delta.enableInCommitTimestamps":"true"},""" +
          s""""createdTime":1700000000000}}""",
        """{"add":{"path":"f0.parquet","partitionValues":{},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val ds = new DeltaDataset(table)
      ds.append(Seq(2L).toDF("v"))  // v1
      ds.append(Seq(3L).toDF("v"))  // v2
      val logDir = Paths.get(table, "_delta_log")
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def ict(v: Long): Long = DeltaWriter.readIct(fs,
        new org.apache.hadoop.fs.Path(logDir.toString, f"$v%020d.json")).get
      // every commit stamped, strictly increasing
      assert(ict(0L) == 1700000000000L)
      assert(ict(0L) < ict(1L) && ict(1L) < ict(2L))
      // commitInfo must be the FIRST action of the writer's commits
      assert(Files.readAllLines(logDir.resolve(f"${1L}%020d.json"))
        .get(0).contains("inCommitTimestamp"))
      // scramble every mtime to the same ancient instant: resolution
      // by mtime would now be useless — ICTs must drive
      (0L to 2L).foreach(v =>
        Files.setLastModifiedTime(logDir.resolve(f"$v%020d.json"),
          java.nio.file.attribute.FileTime.fromMillis(5000L)))
      assert(DeltaReader.scanAsOf(table, 1700000000000L).get.count() == 1L)
      assert(DeltaReader.scanAsOf(table, ict(1L)).get.count() == 2L)
      assert(DeltaReader.scanAsOf(table, ict(2L) - 1L).get.count() == 2L)
      assert(DeltaReader.scanAsOf(table, ict(2L)).get.count() == 3L)
      val e = intercept[IllegalArgumentException](
        DeltaReader.scanAsOf(table, 1699999999999L))
      assert(e.getMessage.contains("predates"))
    }
  }

  test("append-only tables accept appends but refuse overwrite") {
    withTempDir { dir =>
      val table = s"$dir/t"
      landFragment(Paths.get(table, "f1.parquet"), Seq(1L))
      val vSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      writeLog(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
          s""""configuration":{"delta.appendOnly":"true"},"createdTime":1700000000000}}""",
        """{"add":{"path":"f1.parquet","partitionValues":{},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val ds = new DeltaDataset(table)
      ds.append(Seq(2L).toDF("v"))
      assertSameData(ds.scan().get, Seq(1L, 2L).toDF("v"))
      val e = intercept[IllegalArgumentException](ds.write(Seq(9L).toDF("v")))
      assert(e.getMessage.contains("append-only"))
    }
  }

  test("CHECK constraints gate writes: FALSE rows refuse, NULL passes") {
    withTempDir { dir =>
      val table = s"$dir/t"
      landFragment(Paths.get(table, "f1.parquet"), Seq(1L))
      val vSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      writeLog(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
        s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
          s""""configuration":{"delta.constraints.positive":"v > 0",""" +
          s""""delta.constraints.small":"v < 100"},"createdTime":1700000000000}}""",
        """{"add":{"path":"f1.parquet","partitionValues":{},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val ds = new DeltaDataset(table)
      ds.append(Seq(2L, 3L).toDF("v"))                    // passes both
      // SQL CHECK: NULL is not FALSE — a null row passes
      ds.append(Seq[java.lang.Long](null).toDF("v"))
      val e = intercept[IllegalArgumentException](
        ds.append(Seq(-5L, 500L).toDF("v")))
      assert(e.getMessage.contains("positive") &&
        e.getMessage.contains("small"))
      assert(ds.scan().get.count() == 4L) // nothing from the refused batch
    }
  }

  test("delta.checkpointPolicy=v2 writes manifest+sidecar checkpoints our reader replays") {
    withTempDir { dir =>
      val table = s"$dir/t"
      landFragment(Paths.get(table, "f0.parquet"), Seq(100L))
      val vSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      writeLog(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["v2Checkpoint"],""" +
          """"writerFeatures":["v2Checkpoint"]}}""",
        s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
          s""""configuration":{"delta.checkpointInterval":"2",""" +
          s""""delta.checkpointPolicy":"v2"},"createdTime":1700000000000}}""",
        """{"add":{"path":"f0.parquet","partitionValues":{},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val ds = new DeltaDataset(table)
      (1L to 3L).foreach(i => ds.append(Seq(100L + i).toDF("v")))
      val logDir = Paths.get(table, "_delta_log")
      // a v2 manifest (NOT the classic name) exists at version 2,
      // with its sidecar
      val manifests = Files.list(logDir).toArray.map(_.toString)
        .map(p => Paths.get(p).getFileName.toString)
        .filter(n => n.startsWith(f"${2L}%020d.checkpoint.") &&
          n != f"${2L}%020d.checkpoint.parquet")
      assert(manifests.length == 1)
      assert(Files.list(logDir.resolve("_sidecars")).count() >= 1)
      // vacuum the covered tail: replay must anchor at the v2 manifest
      (0L to 2L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
      assertSameData(ds.scan().get, Seq(100L, 101L, 102L, 103L).toDF("v"))
      assertSameData(DeltaReader.scan(table, Some(2L)).get,
        Seq(100L, 101L, 102L).toDF("v"))
      // re-append: idempotence check skips re-writing v2, commits land
      ds.append(Seq(200L).toDF("v"))
      assert(ds.scan().get.count() == 5L)
    }
  }

  test("vacuum reclaims tombstoned files and old orphans; the head and referenced sidecars survive") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write((1L to 8L).map(i => (i, if (i <= 4) "A" else "B"))
        .toDF("v", "p").coalesce(1))  // v0
      ds.delete($"v" % 2 === 0L)      // v1: DVs on both files
      ds.optimize(0.0)                // v2: rewrites; old files+DVs tombstoned
      ds.delete($"v" === 3L)          // v3: a LIVE sidecar on the new A file
      val headRows = DeltaReader.scan(table).get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      def tableFiles(): Set[String] = {
        val b = java.nio.file.Paths.get(table)
        val s = scala.collection.mutable.Set[String]()
        Files.walk(b).forEach { p =>
          val rel = b.relativize(p).toString
          if (Files.isRegularFile(p) && !rel.startsWith("_delta_log"))
            s += rel
        }
        s.toSet
      }
      val before = tableFiles()
      // an old orphan (aborted write) and a FRESH one (in-flight)
      val oldOrphan = java.nio.file.Paths.get(table, "p=A", "orphan-old.parquet")
      Files.write(oldOrphan, Array[Byte](1, 2, 3))
      Files.setLastModifiedTime(oldOrphan,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis - 1000000))
      val freshOrphan = java.nio.file.Paths.get(table, "p=B", "orphan-new.parquet")
      Files.write(freshOrphan, Array[Byte](4, 5, 6))
      // huge retention: nothing goes
      assert(ds.vacuum(Long.MaxValue / 2) == 0)
      // 60s retention: everything this test just created is younger —
      // only the back-dated orphan crosses the cutoff
      assert(ds.vacuum(60000) == 1)
      assert(!tableFiles().contains("p=A/orphan-old.parquet"))
      assert(tableFiles().contains("p=B/orphan-new.parquet"))
      // zero retention: tombstoned v0 files, their v1 sidecars and
      // the fresh orphan all go; live files and the LIVE sidecar stay
      assert(ds.vacuum(0) > 0)
      val after = tableFiles()
      assert(!after.contains("p=B/orphan-new.parquet"))
      assert((before -- after).nonEmpty)
      val snap = DeltaReader.snapshot(table).get
      snap.files.foreach { f =>
        assert(Files.exists(java.nio.file.Paths.get(
          new org.apache.hadoop.fs.Path(f.path).toUri.getPath)))
      }
      assert(snap.files.exists(_.deletionVector.isDefined))
      assert(DeltaReader.scan(table).get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == headRows)
      // time travel to a version whose files are gone now fails at
      // SCAN time (standard vacuum trade-off), not silently wrong
      intercept[Exception](DeltaReader.scan(table, Some(0L)).get.collect())
    }
  }

  test("timestamp time travel resolves by monotone commit mtimes") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq(1L).toDF("v"))   // v0
      ds.append(Seq(2L).toDF("v"))  // v1
      ds.append(Seq(3L).toDF("v"))  // v2
      val logDir = Paths.get(table, "_delta_log")
      def setT(v: Long, ts: Long): Unit =
        Files.setLastModifiedTime(logDir.resolve(f"$v%020d.json"),
          java.nio.file.attribute.FileTime.fromMillis(ts))
      // v1's clock REGRESSED below v0's — the monotone rule clamps it
      setT(0L, 2000000L); setT(1L, 1000000L); setT(2L, 3000000L)
      def countAt(ts: Long): Long =
        DeltaReader.scanAsOf(table, ts).get.count()
      assert(countAt(2000000L) == 2L)  // v1's effective time = v0's
      assert(countAt(2999999L) == 2L)
      assert(countAt(3000000L) == 3L)
      assert(countAt(Long.MaxValue) == 3L)
      val e = intercept[IllegalArgumentException](countAt(1999999L))
      assert(e.getMessage.contains("predates"))
      assert(DeltaReader.scanAsOf(s"$dir/nope", 5L).isEmpty)
    }
  }

  test("25 commits checkpoint at 10 and 20; replay anchors at the writer's own checkpoint") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      (0L until 25L).foreach { i =>
        ds.append(Seq((i, if (i % 2 == 0) "A" else "B")).toDF("v", "p"))
      }
      val logDir = Paths.get(table, "_delta_log")
      assert(Files.exists(logDir.resolve(f"${10L}%020d.checkpoint.parquet")))
      assert(Files.exists(logDir.resolve(f"${20L}%020d.checkpoint.parquet")))
      val lc = new String(Files.readAllBytes(
        logDir.resolve("_last_checkpoint")), "UTF-8")
      assert(lc.contains("\"version\":20"))
      // vacuum every JSON commit the newest checkpoint covers
      (0L to 20L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
      assertSameData(ds.scan().get,
        (0L until 25L).map(i => (i, if (i % 2 == 0) "A" else "B"))
          .toDF("v", "p"))
      // time travel to the checkpointed version itself still works...
      assertSameData(DeltaReader.scan(table, Some(20L)).get,
        (0L until 21L).map(i => (i, if (i % 2 == 0) "A" else "B"))
          .toDF("v", "p"))
      // ...and the checkpoint's metaData keeps the table identity the
      // creating commit stamped (streams key resumption off this id)
      val snap = DeltaReader.snapshot(table).get
      assert(snap.tableId.nonEmpty)
      assert(DeltaReader.snapshotAt(table, Some(20L)).get.tableId
        == snap.tableId)
      // a version under the vacuumed tail raises loudly, never wrong
      val e = intercept[IllegalStateException](
        DeltaReader.snapshotAt(table, Some(15L)))
      assert(e.getMessage.contains("missing"))
    }
  }

  test("cleanupLog reclaims commits/manifests/sidecars a newer checkpoint covers; the head replays") {
    withTempDir { dir =>
      val table = s"$dir/t"
      landFragment(Paths.get(table, "f0.parquet"), Seq(100L))
      val vSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      writeLog(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["v2Checkpoint"],""" +
          """"writerFeatures":["v2Checkpoint"]}}""",
        s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
          s""""configuration":{"delta.checkpointInterval":"2",""" +
          s""""delta.checkpointPolicy":"v2"},"createdTime":1700000000000}}""",
        """{"add":{"path":"f0.parquet","partitionValues":{},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val ds = new DeltaDataset(table)
      // v2 checkpoints land at 2 and 4 (interval 2), each with a sidecar
      (1L to 5L).foreach(i => ds.append(Seq(100L + i).toDF("v")))
      val logDir = Paths.get(table, "_delta_log")
      def sidecars(): Long = Files.list(logDir.resolve("_sidecars"))
        .filter(_.getFileName.toString.endsWith(".parquet")).count()
      assert(sidecars() == 2L)
      val want = ds.scan().get.collect().map(_.getLong(0)).toSet
      // huge retention: nothing is old enough
      assert(ds.cleanupLog(Long.MaxValue / 2) == 0)
      // zero retention: commits 0..3 + the v2 manifest + its sidecar go
      val n = ds.cleanupLog(0L)
      assert(n >= 5, s"wanted commits 0-3 + v2 manifest + sidecar gone, got $n")
      (0L to 3L).foreach(v =>
        assert(!Files.exists(logDir.resolve(f"$v%020d.json"))))
      assert(Files.exists(logDir.resolve(f"${4L}%020d.json")))
      assert(sidecars() == 1L)
      // the head replays from the retained checkpoint + tail, identically
      assert(ds.scan().get.collect().map(_.getLong(0)).toSet == want)
      assertSameData(DeltaReader.scan(table, Some(4L)).get,
        Seq(100L, 101L, 102L, 103L, 104L).toDF("v"))
      // a cleaned version raises loudly, never silently wrong
      intercept[IllegalStateException](DeltaReader.snapshotAt(table, Some(1L)))
      // life goes on: appends + the NEXT checkpoint still land
      ds.append(Seq(200L).toDF("v"))
      assert(ds.scan().get.count() == 7L)
    }
  }

  test("mergeSchema append adds columns; old rows null-fill; old versions keep their shape") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))              // v0
      // refused WITHOUT the explicit flag
      intercept[IllegalArgumentException](
        ds.append(Seq((3L, "c", 1.5)).toDF("k", "s", "x")))
      assert(ds.append(Seq((3L, "c", 1.5), (4L, "d", 2.5))
        .toDF("k", "s", "x"), mergeSchema = true) == 1L)              // v1
      val head = DeltaReader.scan(table).get
      assert(head.columns.toSeq == Seq("k", "s", "x"))
      assert(head.collect().map(r =>
        (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet ==
        Set((1L, "a", None), (2L, "b", None),
          (3L, "c", Some(1.5)), (4L, "d", Some(2.5))))
      // the pre-evolution version still reads with the OLD shape
      assert(DeltaReader.scan(table, Some(0L)).get.columns.toSeq ==
        Seq("k", "s"))
      // further appends must carry the evolved schema...
      ds.append(Seq((5L, "e", 3.5)).toDF("k", "s", "x"))              // v2
      // ...and a type CHANGE refuses even under mergeSchema
      val e = intercept[IllegalArgumentException](ds.append(
        Seq(("oops", "f", 4.5)).toDF("k", "s", "x"), mergeSchema = true))
      assert(e.getMessage.contains("cannot change column"))
      // the change feed spans the evolution: early inserts null-fill x
      val ch = DeltaChanges.readChanges(table, -1L).get
      assert(ch.columns.toSeq ==
        Seq("k", "s", "x", "_change_type", "_commit_version"))
      assert(ch.where($"_commit_version" === 0L && $"x".isNull)
        .count() == 2L)
      // the table id survives the evolution commit (streams key on it)
      assert(DeltaReader.snapshotAt(table, Some(0L)).get.tableId ==
        DeltaReader.snapshot(table).get.tableId)
    }
  }

  test("history lists retained commits newest-first with recorded operations") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq(1L, 2L, 3L).toDF("v"))   // v0 WRITE
      ds.append(Seq(4L).toDF("v"))          // v1 WRITE
      ds.delete($"v" === 2L)                // v2 DELETE
      ds.optimize(0.0)                      // v3 OPTIMIZE
      ds.restore(1L)                        // v4 RESTORE
      val h = ds.history().get.collect()
      assert(h.map(_.getLong(0)).toSeq == Seq(4L, 3L, 2L, 1L, 0L))
      assert(h.map(_.getString(2)).toSeq ==
        Seq("RESTORE", "OPTIMIZE", "DELETE", "WRITE", "WRITE"))
      // timestamps are wall-clock, never the zero default
      assert(h.forall(_.getLong(1) > 0L))
      // v2's DV delete commits remove+re-add of one file
      val v2 = h.find(_.getLong(0) == 2L).get
      assert(v2.getLong(3) == 1L && v2.getLong(4) == 1L)
      // a foreign commit without commitInfo reports a null operation
      val logDir = Paths.get(table, "_delta_log")
      Files.write(logDir.resolve(f"${5L}%020d.json"),
        """{"add":{"path":"nope.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}
          |""".stripMargin.getBytes("UTF-8"))
      val h2 = ds.history().get.collect()
      assert(h2.head.getLong(0) == 5L && h2.head.isNullAt(2))
    }
  }

  test("compact bin-packs small files per partition; every version reads identically") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      // 8 one-row appends to partition A, 3 to B: a classic
      // append-stream small-file pile-up
      (1L to 8L).foreach(i => ds.append(Seq((i, "A")).toDF("v", "p")))
      (9L to 11L).foreach(i => ds.append(Seq((i, "B")).toDF("v", "p")))
      ds.delete($"v" === 2L)  // v11: a DV rides into the compaction
      val want = DeltaReader.scan(table).get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      def liveFiles() = DeltaReader.snapshot(table).get.files
      assert(liveFiles().size == 11)
      val v = ds.compact() // every file is tiny → one bin per partition
      assert(v == 12L)
      val after = liveFiles()
      assert(after.size == 2, s"wanted 2 packed files, got ${after.size}")
      // masks were materialized away, results identical
      assert(after.forall(_.deletionVector.isEmpty))
      assert(DeltaReader.scan(table).get.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet == want)
      // pre-compaction versions still read (old files stay on disk)
      assert(DeltaReader.scan(table, Some(10L)).get.count() == 11L)
      // dataChange=false: the change feed is silent on the compaction
      assert(DeltaChanges.readChanges(table, 11L).get.count() == 0L)
      // idempotent: nothing small enough twice in a row
      assert(ds.compact() == 12L)
      // a too-small target leaves everything alone
      (20L to 22L).foreach(i => ds.append(Seq((i, "A")).toDF("v", "p")))
      assert(ds.compact(targetFileBytes = 1L) == 15L)
    }
  }

  test("restore refuses to remove files from an append-only table") {
    withTempDir { dir =>
      val table = s"$dir/t"
      DeltaWriter.write(table, Seq(1L).toDF("v"), Seq.empty, overwrite = false)
      // flip appendOnly on by hand (our writer sets no table properties)
      val logDir = Paths.get(table, "_delta_log")
      val v0 = new String(Files.readAllBytes(
        logDir.resolve(f"${0L}%020d.json")), "UTF-8")
      Files.write(logDir.resolve(f"${0L}%020d.json"),
        v0.replace(""""configuration":{}""",
          """"configuration":{"delta.appendOnly":"true"}""")
          .getBytes("UTF-8"), StandardOpenOption.TRUNCATE_EXISTING)
      DeltaWriter.write(table, Seq(2L).toDF("v"), Seq.empty, overwrite = false)
      val e = intercept[IllegalArgumentException](
        DeltaWriter.restore(table, 0L))
      assert(e.getMessage.contains("append-only"))
      // a restore that only ADDS files back would be fine — the head
      // already equals v1 here, so this no-ops rather than raises
      assert(DeltaWriter.restore(table, 1L) == 1L)
    }
  }

  test("an incomplete multi-part checkpoint never anchors cleanup or replay") {
    withTempDir { dir =>
      // phase 1: the ONLY checkpoint-shaped files are a partial
      // multi-part landing (part 1 of 2 — a foreign writer crashed
      // mid-upload). Nothing verifiably anchors a replay, so
      // cleanupLog must keep the whole log and the reader must
      // replay from commit 0, ignoring the junk.
      val lone = s"$dir/lone"
      val dsL = new DeltaDataset(lone)
      dsL.write(Seq(1L).toDF("v"))   // v0
      dsL.append(Seq(2L).toDF("v"))  // v1
      dsL.append(Seq(3L).toDF("v"))  // v2
      val loneLog = Paths.get(lone, "_delta_log")
      // junk bytes: if any code path ever tries to READ this as
      // parquet the test fails loudly, which is exactly the point
      Files.write(loneLog.resolve(
        f"${2L}%020d.checkpoint.0000000001.0000000002.parquet"),
        "not parquet".getBytes("UTF-8"))
      assert(dsL.cleanupLog(0L) == 0,
        "a partial checkpoint must not anchor deletion")
      (0L to 2L).foreach(v =>
        assert(Files.exists(loneLog.resolve(f"$v%020d.json"))))
      assert(dsL.scan().get.collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L))

      // phase 2: a COMPLETE single-file checkpoint at v2 coexists
      // with a partial multi-part at v3: the complete one anchors,
      // the partial one is ignored by both cleanup and the reader.
      val table = s"$dir/t"
      landFragment(Paths.get(table, "f0.parquet"), Seq(100L))
      val vSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      writeLog(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"fx2","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
          s""""configuration":{"delta.checkpointInterval":"2"},""" +
          s""""createdTime":1700000000000}}""",
        """{"add":{"path":"f0.parquet","partitionValues":{},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val ds = new DeltaDataset(table)
      (1L to 3L).foreach(i => ds.append(Seq(100L + i).toDF("v"))) // cp at v2
      val logDir = Paths.get(table, "_delta_log")
      assert(Files.exists(logDir.resolve(f"${2L}%020d.checkpoint.parquet")))
      Files.write(logDir.resolve(
        f"${3L}%020d.checkpoint.0000000001.0000000002.parquet"),
        "not parquet".getBytes("UTF-8"))
      val want = ds.scan().get.collect().map(_.getLong(0)).toSet
      assert(want == Set(100L, 101L, 102L, 103L))
      val n = ds.cleanupLog(0L)
      assert(n >= 2, s"commits 0,1 below the VERIFIED anchor v2 go, got $n")
      assert(!Files.exists(logDir.resolve(f"${0L}%020d.json")))
      assert(Files.exists(logDir.resolve(f"${2L}%020d.json")))
      // head replays from the verified anchor, junk untouched&unread
      assert(ds.scan().get.collect().map(_.getLong(0)).toSet == want)
    }
  }

  test("cleanupLog keeps sidecars of every RETAINED manifest and drops a stale _last_checkpoint") {
    withTempDir { dir =>
      val table = s"$dir/t"
      landFragment(Paths.get(table, "f0.parquet"), Seq(100L))
      val vSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      writeLog(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["v2Checkpoint"],""" +
          """"writerFeatures":["v2Checkpoint"]}}""",
        s"""{"metaData":{"id":"fx3","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
          s""""configuration":{"delta.checkpointInterval":"2",""" +
          s""""delta.checkpointPolicy":"v2"},"createdTime":1700000000000}}""",
        """{"add":{"path":"f0.parquet","partitionValues":{},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val ds = new DeltaDataset(table)
      (1L to 5L).foreach(i => ds.append(Seq(100L + i).toDF("v"))) // v2+v4 cps
      val logDir = Paths.get(table, "_delta_log")
      def sidecarCount(): Long = Files.list(logDir.resolve("_sidecars"))
        .filter(_.getFileName.toString.endsWith(".parquet")).count()
      assert(sidecarCount() == 2L)
      // a stale pointer, as a classic→v2 policy transition leaves it:
      // it names a version whose checkpoint this cleanup reclaims
      Files.write(logDir.resolve("_last_checkpoint"),
        """{"version":2,"size":3}""".getBytes("UTF-8"))
      // age everything EXCEPT the v2-version manifest: commits and
      // both sidecars (the sidecar lands moments before its manifest,
      // so it can sit just under the cutoff while the manifest is
      // just over it — the ADVICE failure shape)
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 2L * 3600 * 1000)
      Files.list(logDir).forEach { p =>
        // ages the commit JSONs; both v2 manifests are parquet and
        // stay young (inside retention)
        if (p.getFileName.toString.endsWith(".json"))
          Files.setLastModifiedTime(p, old)
        else ()
      }
      Files.list(logDir.resolve("_sidecars")).forEach(p =>
        Files.setLastModifiedTime(p, old))
      val deleted = ds.cleanupLog(3600L * 1000) // 1h retention
      assert(deleted >= 1)
      // the version-2 manifest is YOUNG (inside retention) → retained
      // → its sidecar MUST survive even though the sidecar is old
      assert(sidecarCount() == 2L,
        "a retained manifest's sidecar was reclaimed from under it")
      // ...so time travel anchored on that manifest still reads
      assert(DeltaReader.scan(table, Some(2L)).get
        .collect().map(_.getLong(0)).toSet == Set(100L, 101L, 102L))
      // the stale pointer named version 2's checkpoint... which
      // survived (young manifest), so the pointer stays valid here;
      // now age the manifest too and re-clean: checkpoint 2 goes,
      // and the pointer MUST go with it
      Files.list(logDir).forEach { p =>
        if (p.getFileName.toString.contains("checkpoint"))
          Files.setLastModifiedTime(p, old)
        else ()
      }
      ds.cleanupLog(0L)
      assert(!Files.exists(logDir.resolve("_last_checkpoint")),
        "a pointer naming a reclaimed checkpoint must be dropped")
      // head still replays from the retained v4 manifest + tail
      assert(ds.scan().get.collect().map(_.getLong(0)).toSet ==
        Set(100L, 101L, 102L, 103L, 104L, 105L))
    }
  }

  test("history prefers the monotonic inCommitTimestamp over wall-clock") {
    withTempDir { dir =>
      val table = s"$dir/t"
      landFragment(Paths.get(table, "f0.parquet"), Seq(1L))
      val vSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      writeLog(table, 0L, Seq(
        // skewed wall clock (111) vs monotonic ICT (999): engines
        // surface the ICT when the feature recorded one
        """{"commitInfo":{"timestamp":111,"inCommitTimestamp":999,""" +
          """"operation":"WRITE"}}""",
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"fict","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
          s""""configuration":{},"createdTime":1700000000000}}""",
        """{"add":{"path":"f0.parquet","partitionValues":{},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      writeLog(table, 1L, Seq(
        """{"commitInfo":{"timestamp":222,"operation":"WRITE"}}""",
        """{"add":{"path":"f0.parquet","partitionValues":{},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val h = DeltaReader.history(table).get.collect()
      assert(h.map(_.getLong(0)).toSeq == Seq(1L, 0L))
      assert(h.find(_.getLong(0) == 0L).get.getLong(1) == 999L,
        "ICT must win over the wall-clock timestamp")
      assert(h.find(_.getLong(0) == 1L).get.getLong(1) == 222L,
        "no ICT recorded → wall-clock timestamp")
    }
  }

  test("merge upserts matched, inserts unmatched, deletes via clause — one commit, no unmatched-file rewrite") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      // two files: keys 1-3 and keys 4-6
      ds.write(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("k", "s", "x").coalesce(1))
      ds.append(Seq((4L, "d", 40.0), (5L, "e", 50.0), (6L, "f", 60.0))
        .toDF("k", "s", "x").coalesce(1))
      val filesBefore = DeltaReader.snapshot(table).get.files
        .map(f => new org.apache.hadoop.fs.Path(f.path).toUri.toString).toSet
      // source: update k=2 (whole row), delete k=5, insert k=9,
      // delete-an-absent-key k=10 (no-op)
      val src = Seq(
        (2L, "B!", 21.0),
        (5L, "ignored", 0.0),
        (9L, "new", 90.0),
        (10L, "ghost", 0.0))
        .toDF("k", "s", "x")
      val v = ds.merge(src, Seq("k"),
        deleteWhen = Some($"k" === 5L || $"k" === 10L))
      assert(v == 2L)
      assert(DeltaReader.scan(table).get.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
        Set((1L, "a", 10.0), (2L, "B!", 21.0), (3L, "c", 30.0),
          (4L, "d", 40.0), (6L, "f", 60.0), (9L, "new", 90.0)))
      // DV reuse: BOTH original files are still live (masked), not
      // rewritten — only the insert file is new
      val after = DeltaReader.snapshot(table).get.files
      assert(filesBefore.subsetOf(
        after.map(f => new org.apache.hadoop.fs.Path(f.path).toUri.toString).toSet),
        "merge must mask touched files, never rewrite them")
      assert(after.count(_.deletionVector.exists(_.cardinality > 0)) == 2)
      // time travel: the pre-merge state is intact
      assert(DeltaReader.scan(table, Some(1L)).get.count() == 6L)
      // the change feed reads the merge as delete-old + insert-new
      val ch = DeltaChanges.readChanges(table, 1L).get
        .where($"_commit_version" === 2L)
      val byType = ch.groupBy($"_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType == Map("delete" -> 2L, "insert" -> 2L),
        s"merge CDC shape wrong: $byType")
      assert(ch.where($"_change_type" === "delete").collect()
        .map(_.getLong(0)).toSet == Set(2L, 5L))
      assert(ch.where($"_change_type" === "insert").collect()
        .map(_.getLong(0)).toSet == Set(2L, 9L))
      // history records the verb
      assert(ds.history().get.collect().head.getString(2) == "MERGE")
      // no-op merge (all absent keys under deleteWhen) = no commit
      assert(ds.merge(Seq((77L, "z", 0.0)).toDF("k", "s", "x"), Seq("k"),
        Some(org.apache.spark.sql.functions.lit(true))) == 2L)
    }
  }

  test("merge guards: duplicate source keys, schema drift, append-only — all loud") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq((1L, "a")).toDF("k", "s"))
      val dup = intercept[IllegalArgumentException](ds.merge(
        Seq((2L, "x"), (2L, "y")).toDF("k", "s"), Seq("k")))
      assert(dup.getMessage.contains("duplicate keys"))
      val drift = intercept[IllegalArgumentException](ds.merge(
        Seq((2L, "x", 1.0)).toDF("k", "s", "extra"), Seq("k")))
      assert(drift.getMessage.contains("columns"))
      val badKey = intercept[IllegalArgumentException](ds.merge(
        Seq((2L, "x")).toDF("k", "s"), Seq("nope")))
      assert(badKey.getMessage.contains("not in the table schema"))
      // append-only tables refuse MERGE (it can rewrite/drop rows)
      val ao = s"$dir/ao"
      landFragment(Paths.get(ao, "f0.parquet"), Seq(1L))
      val vSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      writeLog(ao, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"ao","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
          s""""configuration":{"delta.appendOnly":"true"},""" +
          s""""createdTime":1700000000000}}""",
        """{"add":{"path":"f0.parquet","partitionValues":{},""" +
          """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      val e = intercept[IllegalArgumentException](
        DeltaWriter.merge(ao, Seq(1L).toDF("v"), Seq("v")))
      assert(e.getMessage.contains("append-only"))
    }
  }

  test("merge vs concurrent appends: first-writer-wins retries lose no commit") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x"))
      // an appender races the merge: disjoint keys, so the final
      // state is the same whichever order the commits land in — what
      // the retry loop must guarantee is that NO commit is lost and
      // versions stay contiguous
      val appender = new Thread(() => {
        (100L to 104L).foreach { i =>
          ds.append(Seq((i, i.toDouble)).toDF("k", "x"))
        }
      })
      appender.start()
      val merged = try {
        ds.merge(Seq((2L, 99.0), (50L, 50.0), (3L, 0.0)).toDF("k", "x"),
          Seq("k"), deleteWhen = Some($"k" === 3L))
      } finally appender.join()
      assert(merged >= 1L)
      val rows = DeltaReader.scan(table).get.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(rows == Set((1L, 10.0), (2L, 99.0), (50L, 50.0),
        (100L, 100.0), (101L, 101.0), (102L, 102.0),
        (103L, 103.0), (104L, 104.0)),
        s"lost a commit in the race: $rows")
      // contiguous versions: every commit (5 appends + 1 merge + v0)
      // landed exactly once
      assert(DeltaReader.snapshot(table).get.version == 6L)
    }
  }

  test("update rewrites matched rows copy-on-write; partition-column updates move rows") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write(Seq((1L, 10.0, "A"), (2L, 20.0, "A"), (3L, 30.0, "B"))
        .toDF("k", "x", "p"))
      val filesBefore = DeltaReader.snapshot(table).get.files
        .map(f => new org.apache.hadoop.fs.Path(f.path).toUri.toString).toSet
      // SET x = x * 10, p = 'C' WHERE k <= 2 — rows change partition
      val v = ds.update($"k" <= 2L,
        Map("x" -> ($"x" * 10), "p" -> org.apache.spark.sql.functions.lit("C")))
      assert(v == 1L)
      assert(DeltaReader.scan(table).get.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet ==
        Set((1L, 100.0, "C"), (2L, 200.0, "C"), (3L, 30.0, "B")))
      // untouched partition B's file is untouched; A's files are
      // masked, still live, never rewritten
      val after = DeltaReader.snapshot(table).get.files
      assert(filesBefore.subsetOf(
        after.map(f => new org.apache.hadoop.fs.Path(f.path).toUri.toString).toSet))
      // assignments cast to the column type (standard UPDATE coercion)
      ds.update($"k" === 3L, Map("x" -> org.apache.spark.sql.functions.lit("7")))
      assert(DeltaReader.scan(table).get.where($"k" === 3L)
        .head().getDouble(1) == 7.0)
      // no match → no commit; unknown SET column → loud
      val head = DeltaReader.snapshot(table).get.version
      assert(ds.update($"k" === 999L, Map("x" -> $"x")) == head)
      val e = intercept[IllegalArgumentException](
        ds.update($"k" === 1L, Map("nope" -> $"x")))
      assert(e.getMessage.contains("not in the table schema"))
      // history records the verb; time travel reads the pre-update state
      assert(ds.history().get.collect().head.getString(2) == "UPDATE")
      assert(DeltaReader.scan(table, Some(0L)).get.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet ==
        Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    }
  }

  test("writer-feature gates: unknown features refuse every verb; generated/identity/invariants enforce their contracts") {
    withTempDir { dir =>
      import org.apache.spark.sql.types._
      def mkTable(path: String, schema: StructType,
                  writerFeatures: Seq[String]): Unit = {
        landFragment(Paths.get(path, "f0.parquet"), Seq(7L))
        writeLog(path, 0L, Seq(
          s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
            s""""writerFeatures":[${writerFeatures.map(f => s""""$f"""")
              .mkString(",")}]}}""",
          s"""{"metaData":{"id":"wf","format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":"${escJson(schema.json)}","partitionColumns":[],""" +
            s""""configuration":{},"createdTime":1700000000000}}""",
          """{"add":{"path":"f0.parquet","partitionValues":{},""" +
            """"size":100,"modificationTime":1700000000000,"dataChange":true}}"""))
      }
      def refusesAll(path: String, needle: String): Unit = {
        val ds = new DeltaDataset(path)
        Seq[(String, () => Any)](
          "append" -> (() => ds.append(Seq(9L).toDF("v"))),
          "delete" -> (() => ds.delete($"v" === 7L)),
          "merge" -> (() => ds.merge(Seq(9L).toDF("v"), Seq("v"))),
          "update" -> (() => ds.update($"v" === 7L, Map("v" -> $"v"))),
          "optimize" -> (() => ds.optimize(0.0)),
          "compact" -> (() => DeltaWriter.compact(path, minFiles = 2)),
          "restore" -> (() => ds.restore(0L))
        ).foreach { case (verb, run) =>
          val e = intercept[IllegalArgumentException](run())
          assert(e.getMessage.contains(needle),
            s"$verb must refuse with '$needle', got: ${e.getMessage}")
        }
        // reads are NEVER gated by writer features
        assert(DeltaReader.scan(path).get.collect()
          .map(_.getLong(0)).toSeq == Seq(7L))
        assert(ds.history().isDefined)
      }
      // a GENERATED column is a SUPPORTED writer feature now
      // (DeltaGeneratedSpec pins compute/validate/prune semantics) —
      // here only the contradiction refusal and the un-gating of
      // rewrite verbs are pinned: this fixture's self-referential
      // derivation (v = v + 1) can never validate, so any provided
      // value refuses loudly, while DELETE (a row copy, no new
      // values) proceeds
      val genField = StructField("v", LongType, nullable = true,
        new MetadataBuilder()
          .putString("delta.generationExpression", "v + 1").build())
      mkTable(s"$dir/gen", StructType(Seq(genField)),
        Seq("generatedColumns"))
      val gds = new DeltaDataset(s"$dir/gen")
      val ge = intercept[IllegalArgumentException](
        gds.append(Seq(9L).toDF("v")))
      assert(ge.getMessage.contains("GENERATED"))
      assert(DeltaReader.scan(s"$dir/gen").get.collect()
        .map(_.getLong(0)).toSeq == Seq(7L))
      assert(gds.delete($"v" === 7L) == 1L,
        "rewrite verbs are no longer gated by generated columns")
      // an IDENTITY column (GENERATED ALWAYS): explicit values refuse,
      // merge (whole-row = explicit) refuses, UPDATE of the column
      // refuses — while DELETE (a pure row copy) proceeds; allocation
      // semantics live in their own suite (DeltaIdentitySpec)
      val idField = StructField("v", LongType, nullable = true,
        new MetadataBuilder()
          .putLong("delta.identity.start", 1L)
          .putLong("delta.identity.step", 1L)
          .putBoolean("delta.identity.allowExplicitInsert", false).build())
      mkTable(s"$dir/id", StructType(Seq(idField)),
        Seq("identityColumns"))
      val ids = new DeltaDataset(s"$dir/id")
      assert(intercept[IllegalArgumentException](
        ids.append(Seq(9L).toDF("v"))).getMessage.contains("IDENTITY"))
      assert(intercept[IllegalArgumentException](
        ids.merge(Seq(9L).toDF("v"), Seq("v"))).getMessage.contains("IDENTITY"))
      assert(intercept[IllegalArgumentException](
        ids.update($"v" === 7L, Map("v" -> $"v"))).getMessage.contains("IDENTITY"))
      assert(ids.delete($"v" === 999L) == 0L,
        "row-copy verbs are not gated by identity columns")
      // a column invariant is now ENFORCED, not refused: violating
      // rows refuse loudly, conforming rows commit
      val invField = StructField("v", LongType, nullable = true,
        new MetadataBuilder()
          .putString("delta.invariants",
            """{"expression":{"expression":"v > 0"}}""").build())
      mkTable(s"$dir/inv", StructType(Seq(invField)), Seq("invariants"))
      val inv = new DeltaDataset(s"$dir/inv")
      assert(intercept[IllegalArgumentException](
        inv.append(Seq(-5L).toDF("v"))).getMessage.contains("invariant"))
      assert(inv.append(Seq(9L).toDF("v")) == 1L,
        "conforming rows pass the enforced invariant")
      // the CREATING write enforces its own declared invariants too:
      // a v0 violating them would poison the rewrite induction
      val createDf = Seq(-7L).toDF("v")
        .withMetadata("v", new MetadataBuilder()
          .putString("delta.invariants",
            """{"expression":{"expression":"v > 0"}}""").build())
      assert(intercept[IllegalArgumentException](
        new DeltaDataset(s"$dir/inv0").write(createDf))
        .getMessage.contains("invariant"))
      // an UNPARSEABLE invariant refuses the write outright: declaring
      // the feature obliges enforcement, and a predicate this writer
      // cannot extract is one it cannot enforce — silently skipping it
      // would commit unvalidated rows
      val badField = StructField("v", LongType, nullable = true,
        new MetadataBuilder()
          .putString("delta.invariants", """{"wrong":"shape"}""").build())
      mkTable(s"$dir/badinv", StructType(Seq(badField)), Seq("invariants"))
      assert(intercept[IllegalArgumentException](
        new DeltaDataset(s"$dir/badinv").append(Seq(9L).toDF("v")))
        .getMessage.contains("cannot parse"))
      // an unknown future writer feature
      mkTable(s"$dir/fut", StructType(Seq(StructField("v", LongType))),
        Seq("someFutureFeature"))
      refusesAll(s"$dir/fut", "someFutureFeature")
      // the features DECLARED but inert (no column carries metadata):
      // writes proceed — the obligation is per-column, not per-flag
      mkTable(s"$dir/ok", StructType(Seq(StructField("v", LongType))),
        Seq("generatedColumns", "identityColumns", "invariants"))
      val ok = new DeltaDataset(s"$dir/ok")
      assert(ok.append(Seq(9L).toDF("v")) == 1L)
      assert(DeltaReader.scan(s"$dir/ok").get.count() == 2L)
    }
  }

  test("merge mask plan: the key semi-join broadcasts the CDC source, never a cartesian") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      // a target big enough that Catalyst would otherwise shuffle it
      ds.write(spark.range(50000).selectExpr("id AS k", "id * 2 AS x"))
      val snap = DeltaReader.snapshot(table).get
      val src = Seq((5L, 0L), (999999L, 0L)).toDF("k", "x")
      // the EXACT mask frame DeltaWriter.merge builds: scan with row
      // provenance, left-semi against the broadcast source keys
      val masked = DeltaReader.scanWithRowIndex(snap)
        .join(org.apache.spark.sql.functions.broadcast(src.select($"k")),
          Seq("k"), "left_semi")
        .select($"__fp", $"__ri")
      assert(masked.count() == 1L) // only k=5 exists in the target
      val plan = masked.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
        s"merge's mask join must broadcast the CDC-sized source:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"merge's mask join must never go cartesian:\n$plan")
      // the LARGE-source regime: above the broadcast threshold the
      // mask is the same key equi-join UNHINTED — a shuffled join
      // (never cartesian, never a forced broadcast exchange that
      // would OOM on a multi-GB backfill source)
      val bigSrc = spark.range(2000000).selectExpr("id AS k", "id AS x")
      val maskedBig = DeltaReader.scanWithRowIndex(snap)
        .join(bigSrc.select($"k"), Seq("k"), "left_semi")
        .select($"__fp", $"__ri")
      val planBig = maskedBig.queryExecution.executedPlan.toString
      assert(planBig.contains("LeftSemi") &&
        !planBig.contains("CartesianProduct"),
        s"large-source mask join must stay a key equi-join:\n$planBig")
      assert(planBig.contains("SortMergeJoin") ||
        planBig.contains("ShuffledHashJoin"),
        s"large-source mask join must shuffle, not broadcast:\n$planBig")
    }
  }

  test("merge with a source above the broadcast threshold lands the same result") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(spark.range(500).selectExpr("id AS k", "id * 2 AS x"))
      val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        // force the shuffled regime: any realistic source now exceeds
        // the threshold, so hinted() must NOT broadcast — and the
        // merge must still be exact
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
        val src = spark.range(200).selectExpr("id AS k", "id * 10 AS x")
        ds.merge(src, Seq("k"))
        val out = DeltaReader.scan(table).get.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(out.size == 500)
        assert((0L until 200L).forall(k => out(k) == k * 10),
          "matched rows take the source image in the shuffled regime")
        assert((200L until 500L).forall(k => out(k) == k * 2),
          "unmatched target rows survive untouched")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    }
  }

  test("restore past a vacuum raises naming the missing files, not at scan time") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq(1L, 2L).toDF("v"))   // v0
      ds.write(Seq(3L).toDF("v"))       // v1 overwrite: v0 files tombstoned
      assert(ds.vacuum(0) > 0)          // v0 data files reclaimed
      val e = intercept[IllegalArgumentException](ds.restore(0L))
      assert(e.getMessage.contains("vacuumed"))
      // the head is untouched by the refused restore
      assertSameData(DeltaReader.scan(table).get, Seq(3L).toDF("v"))
    }
  }

  /** The top-level action key of every line of commit `v`, in order. */
  private def actionKeys(table: String, v: Long): Seq[String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    new String(Files.readAllBytes(Paths.get(table, "_delta_log", f"$v%020d.json")), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty).map(l => om.readTree(l).fieldNames().next())
  }

  test("every DML and rewrite verb publishes its pinned action sequence and job count") {
    withTempDir { dir =>
      import org.apache.spark.sql.functions.lit
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write(Seq((1L, 10.0, "A"), (2L, 20.0, "A"), (3L, 30.0, "A"),
        (5L, 50.0, "B"), (6L, 60.0, "B"), (7L, 70.0, "B")).toDF("k", "x", "p").coalesce(1))
      ds.append(Seq((4L, 40.0, "A"), (8L, 80.0, "B")).toDF("k", "x", "p").coalesce(1))  // v1
      def rm(n: Int) = Seq.fill(n)("remove")
      def add(n: Int) = Seq.fill(n)("add")
      // one touched file: the DV protocol upgrade, then remove + DV re-add
      val (deleteJobs, v2) = jobsOf(ds.delete($"k" === 1L))
      assert(v2 == 2L && deleteJobs == 2, s"delete ran $deleteJobs jobs")
      assert(actionKeys(table, v2) == Seq("commitInfo", "protocol", "remove", "add"))
      // two touched files re-added with DVs, then one new file per partition
      val (mergeJobs, v3) = jobsOf(ds.merge(
        Seq((2L, 22.0, "A"), (11L, 110.0, "B"), (6L, 0.0, "B")).toDF("k", "x", "p"),
        Seq("k"), deleteWhen = Some($"x" === 0.0)))
      assert(v3 == 3L && mergeJobs == 6, s"merge ran $mergeJobs jobs")
      assert(actionKeys(table, v3) ==
        Seq("commitInfo", "remove", "add", "remove", "add") ++ add(2))
      val v4 = ds.update($"k" === 5L, Map("x" -> lit(55.0)))
      assert(actionKeys(table, v4) == Seq("commitInfo", "remove", "add", "add"))
      val v5 = ds.optimize(0.0)
      assert(actionKeys(table, v5) == Seq("commitInfo") ++ rm(2) ++ add(2))
      ds.append(Seq((12L, 120.0, "A")).toDF("k", "x", "p").coalesce(1))  // v6
      val v7 = ds.compact()
      assert(actionKeys(table, v7) == Seq("commitInfo") ++ rm(8) ++ add(2))
      val v8 = ds.zorder(Seq("k", "x"), nBuckets = 4)
      assert(actionKeys(table, v8) == Seq("commitInfo") ++ rm(2) ++ add(2))
      val v9 = ds.restore(1L)
      assert(v9 == 9L && actionKeys(table, v9) == Seq("commitInfo") ++ rm(2) ++ add(4))
      assert(ds.restore(9L) == 9L, "restoring the head is a no-op")
      assertSameData(ds.scan().get, Seq((1L, 10.0, "A"), (2L, 20.0, "A"), (3L, 30.0, "A"),
        (4L, 40.0, "A"), (5L, 50.0, "B"), (6L, 60.0, "B"), (7L, 70.0, "B"),
        (8L, 80.0, "B")).toDF("k", "x", "p"))
    }
  }

  test("a merge without the change feed and a checkpoint-writing append keep their job counts") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write(Seq((1L, 10.0, "A"), (2L, 20.0, "B")).toDF("k", "x", "p").coalesce(1))
      val (mergeJobs, _) = jobsOf(ds.merge(
        Seq((2L, 22.0, "B"), (3L, 30.0, "A")).toDF("k", "x", "p"), Seq("k")))
      assert(mergeJobs == 6, s"merge ran $mergeJobs jobs")
      val (deleteJobs, _) = jobsOf(ds.delete($"k" === 1L))
      assert(deleteJobs == 2, s"delete ran $deleteJobs jobs")
      val cp = s"$dir/cp"
      val cpds = new DeltaDataset(cp, Seq("p"))
      (0L until 10L).foreach(i => cpds.append(Seq((i, "A")).toDF("v", "p")))
      val (appendJobs, v10) = jobsOf(cpds.append(Seq((10L, "B")).toDF("v", "p")))
      assert(v10 == 10L && appendJobs == 1, s"checkpointing append ran $appendJobs jobs")
      assert(Files.exists(Paths.get(cp, "_delta_log", f"${10L}%020d.checkpoint.parquet")))
    }
  }

  test("update and a v2-checkpointing append keep their job counts") {
    withTempDir { dir =>
      import org.apache.spark.sql.functions.lit
      val table = s"$dir/u"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write(Seq((1L, 10.0, "A"), (2L, 20.0, "B")).toDF("k", "x", "p").coalesce(1))
      val (updateJobs, _) = jobsOf(ds.update($"k" === 1L, Map("x" -> lit(11.0))))
      assert(updateJobs == 3, s"update ran $updateJobs jobs")
      // the touched file already carries a DV: its scan reads the mask
      // in the tasks, no extra job
      val dvt = new DeltaDataset(s"$dir/dv", Seq("p"))
      dvt.write(Seq((1L, 10.0, "A"), (3L, 30.0, "A"), (2L, 20.0, "B")).toDF("k", "x", "p")
        .coalesce(1))
      dvt.update($"k" === 1L, Map("x" -> lit(11.0)))
      val (dvUpdateJobs, _) = jobsOf(dvt.update($"k" === 3L, Map("x" -> lit(33.0))))
      assert(dvUpdateJobs == 3, s"update of a DV'd file ran $dvUpdateJobs jobs")
      assertSameData(dvt.scan().get,
        Seq((1L, 11.0, "A"), (3L, 33.0, "A"), (2L, 20.0, "B")).toDF("k", "x", "p"))
      val v2t = s"$dir/v2"
      writeV2Log(v2t)
      val v2ds = new DeltaDataset(v2t)
      v2ds.append(Seq(1L).toDF("v"))
      val (appendJobs, v2) = jobsOf(v2ds.append(Seq(2L).toDF("v")))
      assert(v2 == 2L && appendJobs == 1, s"v2-checkpointing append ran $appendJobs jobs")
      assert(Files.list(Paths.get(v2t, "_delta_log", "_sidecars"))
        .filter(_.toString.endsWith(".parquet")).count() == 1L)
    }
  }

  /** Version 0 of an empty table of one `v` column that writes v2
    * checkpoints every 2 commits and may carry deletion vectors. */
  private def writeV2Log(table: String): Unit = {
    val vSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    writeLog(table, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["v2Checkpoint","deletionVectors"],""" +
        """"writerFeatures":["v2Checkpoint","deletionVectors"]}}""",
      s"""{"metaData":{"id":"v2","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"${escJson(vSchema.json)}","partitionColumns":[],""" +
        s""""configuration":{"delta.checkpointInterval":"2",""" +
        s""""delta.checkpointPolicy":"v2"},"createdTime":1700000000000}}"""))
  }

  test("a merge whose deleteWhen matches every source row adds no file and leaves none behind") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x").coalesce(1))
      def dataFiles(): Seq[java.nio.file.Path] = {
        import scala.jdk.CollectionConverters._
        Files.walk(Paths.get(table)).iterator().asScala.toSeq
          .filter(p => !p.toString.contains("_delta_log") &&
            p.getFileName.toString.endsWith(".parquet"))
      }
      val filesBefore = dataFiles().toSet
      val v1 = ds.merge(Seq((1L, 0.0), (3L, 0.0), (9L, 0.0)).toDF("k", "x"), Seq("k"),
        deleteWhen = Some($"x" === 0.0))
      assert(v1 == 1L)
      assert(actionKeys(table, v1) == Seq("commitInfo", "protocol", "remove", "add"),
        "only the DV re-add of the touched file, no add for new files")
      assert(dataFiles().toSet == filesBefore, "no zero-row parquet was left behind")
      assert(Files.list(Paths.get(table)).toArray.map(_.toString)
        .forall(!_.contains("staging-")), "no staging directory was left behind")
      assertSameData(ds.scan().get, Seq((2L, 20.0)).toDF("k", "x"))
    }
  }

  test("merge's duplicate-key guard names one duplicated key") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq((1L, "a", 1.0)).toDF("k", "s", "x"))
      val e = intercept[IllegalArgumentException](ds.merge(
        Seq((2L, "b", 1.0), (2L, "b", 2.0), (3L, "c", 1.0), (2L, "c", 1.0))
          .toDF("k", "s", "x"), Seq("k", "s")))
      assert(e.getMessage.contains("duplicate keys") &&
        e.getMessage.contains("k=2, s=b on 2 rows"), e.getMessage)
      // nothing was committed
      assert(DeltaReader.snapshot(table).get.version == 0L)
    }
  }

  test("driver-written classic and v2 checkpoints replay field-identically and match a Spark write") {
    withTempDir { dir =>
      import scala.jdk.CollectionConverters._
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = spark.sessionState.newHadoopConf()
      def footer(p: String) = {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), conf))
        try r.getFooter.getFileMetaData finally r.close()
      }
      // `file` holds exactly the rows a coalesce(1) Spark write of
      // (rows, schema) holds, in order, under the same footer schema
      def assertSparkParity(file: String, rows: Seq[org.apache.spark.sql.Row],
                            schema: org.apache.spark.sql.types.StructType): Unit = {
        val ref = s"$dir/ref-${java.util.UUID.randomUUID}"
        spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(ref)
        val refFile = Files.list(Paths.get(ref)).iterator().asScala
          .map(_.toString).filter(_.endsWith(".parquet")).toSeq.head
        assert(spark.read.parquet(file).collect().toSeq ==
          spark.read.parquet(refFile).collect().toSeq, s"rows of $file")
        val (got, want) = (footer(file), footer(refFile))
        assert(got.getSchema == want.getSchema, s"footer schema of $file")
        val key = "org.apache.spark.sql.parquet.row.metadata"
        assert(got.getKeyValueMetaData.get(key) == want.getKeyValueMetaData.get(key))
      }
      def assertReplayParity(table: String, versions: Seq[Long]): Unit =
        versions.foreach { v =>
          val fast = DeltaReader.snapshotAt(table, Some(v)).get
          val dist = DeltaReader.snapshotAtImpl(table, Some(v), forceDistributed = true).get
          assert(fast == dist, s"fast vs distributed replay diverged at $table v$v")
        }

      // classic: a history with DVs, tombstones, a txn and partitions
      val table = s"$dir/c"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write((1L to 6L).map(i => (i, if (i <= 3) "A" else "B")).toDF("v", "p").coalesce(1))
      ds.delete($"v" % 2 === 0L)                                     // v1
      ds.write(Seq((99L, "C")).toDF("v", "p"))                       // v2 overwrite
      DeltaWriter.write(table, Seq((50L, "A")).toDF("v", "p"), Seq("p"),
        overwrite = false, txn = Some(("cp-app", 3L)))               // v3
      (4L to 9L).foreach(i => ds.append(Seq((100L + i, "B")).toDF("v", "p")))
      ds.delete($"v" === 104L)                                       // v10: checkpoint
      val cp = Paths.get(table, "_delta_log", f"${10L}%020d.checkpoint.parquet").toString
      assert(Files.exists(Paths.get(cp)))
      val (rows, schema) = DeltaWriter.checkpointRows(
        new DeltaWriter.TableRoot(table), DeltaReader.snapshotAt(table, Some(10L)).get)
      assertSparkParity(cp, rows, schema)
      (0L to 10L).foreach(v =>
        Files.delete(Paths.get(table, "_delta_log", f"$v%020d.json")))
      ds.append(Seq((200L, "A")).toDF("v", "p"))                     // v11
      assertReplayParity(table, Seq(10L, 11L))

      // v2: a sidecar plus a UUID-named manifest
      val v2t = s"$dir/v2"
      writeV2Log(v2t)
      val v2ds = new DeltaDataset(v2t)
      v2ds.append(Seq(1L, 2L, 3L).toDF("v").coalesce(1))             // v1
      v2ds.delete($"v" === 2L)                                       // v2: checkpoint
      val logDir = Paths.get(v2t, "_delta_log")
      val manifest = Files.list(logDir).iterator().asScala.map(_.toString)
        .filter(_.matches(""".*/0{19}2\.checkpoint\.[0-9a-f-]{36}\.parquet""")).toSeq
      assert(manifest.size == 1)
      val sidecar = Files.list(logDir.resolve("_sidecars")).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq
      assert(sidecar.size == 1)
      val (v2rows, v2schema) = DeltaWriter.checkpointRows(
        new DeltaWriter.TableRoot(v2t), DeltaReader.snapshotAt(v2t, Some(2L)).get)
      val (fileRows, otherRows) =
        v2rows.partition(r => r.get(1) != null || r.get(2) != null)
      assertSparkParity(sidecar.head, fileRows, v2schema)
      val sc = new org.apache.hadoop.fs.Path(sidecar.head)
      val st = sc.getFileSystem(conf).getFileStatus(sc)
      val (mRows, mSchema) = DeltaWriter.v2ManifestRows(otherRows, v2schema, 2L,
        sc.getName, st.getLen, st.getModificationTime)
      assertSparkParity(manifest.head, mRows, mSchema)
      (0L to 2L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
      v2ds.append(Seq(4L).toDF("v"))                                 // v3
      assertReplayParity(v2t, Seq(2L, 3L))
      assertSameData(v2ds.scan().get, Seq(1L, 3L, 4L).toDF("v"))
    }
  }
}
