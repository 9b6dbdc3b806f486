package graft

import graft.sources.{DatasetLike, HiveDataset, ManagedDataset}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Semantics-parity suite per SURVEY.md §7.5. Fixture A1 from
  * /root/reference/tests/test_hive_dataset.py:43-52. */
class HiveDatasetSpec extends SparkSpec {
  import spark.implicits._

  def exampleDf: DataFrame =
    Seq(("1", "a", 1L), ("1", "b", 1L), ("2", "a", 1L), ("2", "a", 2L)).toDF("p1", "p2", "v")

  // -- backend-parametrized contract tests (mirrors the reference's
  //    @pytest.mark.parametrize over HiveDataset/DeltaDataset,
  //    tests/test_dataset.py:42) --
  def backends(url: String): Seq[(String, DatasetLike)] = Seq(
    "hive"    -> HiveDataset(url + "/hive", Seq("p1", "p2")),
    "managed" -> ManagedDataset(url + "/managed", Seq("p1", "p2")))

  test("compression override is honored in written fragments") {
    withTempDir { dir =>
      val ds = HiveDataset(s"$dir/ds", Seq("p1"), compression = "zstd")
      ds.write(exampleDf.drop("p2"))
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/ds")).toArray
        .map(_.toString).filter(_.endsWith(".parquet"))
      assert(files.nonEmpty)
      // Fragment names are codec-free (reference naming), so check the
      // codec in the parquet footer itself.
      val conf = spark.sessionState.newHadoopConf()
      files.foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), conf))
        val codec = try reader.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.toString
        finally reader.close()
        assert(codec == "ZSTD", s"expected ZSTD codec in $f, got $codec")
      }
      // still readable
      assert(ds.scan().get.count() == 4)
    }
  }

  test("fragments use reference naming; appends sort lexically after existing fragments") {
    withTempDir { dir =>
      import graft.util.PathUtils
      val ds = HiveDataset(dir + "/ds", Seq("p1"), maxRowsPerFragment = 1)
      def frags: Seq[String] = Files.list(Paths.get(dir, "ds", "p1=1")).toArray
        .map(_.toString).filter(_.endsWith(".parquet"))
        .map(p => Paths.get(p).getFileName.toString).sorted.toSeq

      ds.write(Seq(("1", 1L), ("1", 2L)).toDF("p1", "v"))
      val first = frags
      assert(first.length == 2 && first.forall(PathUtils.isFragmentName),
        s"expected reference-style fragment names, got $first")
      assert(first.map(PathUtils.fragmentIndex) == Seq(0, 1))

      ds.append(Seq(("1", 3L)).toDF("p1", "v"))
      val appended = frags.toSet.diff(first.toSet).toSeq.sorted
      assert(appended.length == 1 && appended.forall(PathUtils.isFragmentName))
      // the lexical-ordering contract (reference README.md:35-37):
      // every appended fragment sorts after every pre-existing one
      assert(appended.forall(a => first.forall(f => a > f)),
        s"appended $appended must sort after $first")
      assert(PathUtils.fragmentIndex(appended.head) == 2)

      // dynamic overwrite clears the partition -> indices restart at 0
      ds.write(Seq(("1", 9L)).toDF("p1", "v"))
      val rewritten = frags
      assert(rewritten.map(PathUtils.fragmentIndex) == Seq(0))
      assert(ds.scan().get.count() == 1)
    }
  }

  test("compactPartition rewrites many fragments into the minimal chunked set, same data") {
    withTempDir { dir =>
      import graft.util.PathUtils
      val ds = HiveDataset(dir + "/ds", Seq("p1"))
      def frags(p: String): Seq[String] = Files.list(Paths.get(dir, "ds", s"p1=$p")).toArray
        .map(_.toString).filter(_.endsWith(".parquet"))
        .map(p => Paths.get(p).getFileName.toString).sorted.toSeq

      ds.write(Seq(("1", 1L), ("2", 10L)).toDF("p1", "v"))
      ds.append(Seq(("1", 2L)).toDF("p1", "v"))
      ds.append(Seq(("1", 3L)).toDF("p1", "v"))
      assert(frags("1").length == 3) // one fragment per append
      val otherBefore = frags("2")
      // materialized: the lazy frame's source files are about to be
      // rewritten by the compaction
      val before = ds.readPartition(Map("p1" -> "1")).get.localCheckpoint()

      assert(ds.compactPartition(Map("p1" -> "1")))
      val after = frags("1")
      assert(after.length == 1 && after.forall(PathUtils.isFragmentName))
      assert(after.map(PathUtils.fragmentIndex) == Seq(0)) // restart at 000000
      assertSameData(ds.readPartition(Map("p1" -> "1")).get, before)
      assert(frags("2") == otherBefore, "compaction must not touch other partitions")

      // absent partition -> false, no side effects
      assert(!ds.compactPartition(Map("p1" -> "9")))
      // compact() sweeps every partition; p1=2 already minimal but is
      // rewritten to its minimal form too (count = processed units)
      assert(ds.compact() == 2)
      assert(ds.scan().get.count() == 4)
    }
  }

  test("readPartition scans ONLY the requested partition directory (pruning)") {
    withTempDir { dir =>
      val ds = HiveDataset(s"$dir/ds", Seq("p1", "p2"))
      ds.write(exampleDf)
      val pruned = ds.readPartition(Map("p1" -> "1", "p2" -> "a")).get
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("p1=1/p2=a"), s"expected direct partition path in scan:\n$scan")
      assert(!scan.contains("p1=2"), s"other partitions must not appear in the scan:\n$scan")
    }
  }

  test("unknown URL scheme raises at construction (hive_dataset.py:259-262)") {
    intercept[Exception] {
      HiveDataset("example://some/url", Seq("p1"))
    }
  }

  test("explicit file:// URIs round-trip (both backends; scheme-pluggable FS)") {
    // the Hadoop FileSystem registry resolves the scheme, the same
    // seam an s3a:// URL would take on a cluster (COVERAGE.md
    // "Filesystem scheme posture" — only file:// is exercisable
    // offline)
    withTempDir { dir =>
      backends(s"file://$dir").foreach { case (name, ds) =>
        ds.write(exampleDf)
        assertSameData(ds.scan().getOrElse(fail(s"$name: scan returned None")), exampleDf)
        assertSameData(ds.readPartition(Map("p1" -> "2", "p2" -> "a")).get,
          exampleDf.filter($"p1" === "2" && $"p2" === "a"))
      }
    }
  }

  test("write then scan returns the same data (both backends)") {
    withTempDir { dir =>
      backends(dir).foreach { case (name, ds) =>
        ds.write(exampleDf)
        val got = ds.scan().getOrElse(fail(s"$name: scan returned None"))
        assertSameData(got, exampleDf)
      }
    }
  }

  test("write twice is idempotent (both backends)") {
    withTempDir { dir =>
      backends(dir).foreach { case (name, ds) =>
        ds.write(exampleDf); ds.write(exampleDf)
        assertSameData(ds.scan().get, exampleDf)
      }
    }
  }

  test("append n times gives n-times the rows, same columns (both backends)") {
    withTempDir { dir =>
      backends(dir).foreach { case (_, ds) =>
        (1 to 10).foreach(_ => ds.append(exampleDf))
        val got = ds.scan().get
        assert(got.count() == 40)
        assert(got.columns.sorted.toSeq == Seq("p1", "p2", "v"))
      }
    }
  }

  test("partition-only dataframe is rejected (both backends)") {
    withTempDir { dir =>
      backends(dir).foreach { case (_, ds) =>
        val partOnly = Seq(("1", "a")).toDF("p1", "p2")
        intercept[IllegalArgumentException](ds.write(partOnly))
        intercept[IllegalArgumentException](ds.append(partOnly))
      }
    }
  }

  test("null partition values are rejected at write") {
    withTempDir { dir =>
      val ds = HiveDataset(dir + "/ds", Seq("p1"))
      val withNull = Seq((Some("1"), 1L), (None, 2L))
        .map { case (p, v) => (p.orNull, v) }.toDF("p1", "v")
      val ex = intercept[IllegalArgumentException](ds.write(withNull))
      assert(ex.getMessage.contains("null"))
    }
  }

  test("empty-string and path-escaped partition values are rejected at write") {
    withTempDir { dir =>
      val ds = HiveDataset(dir + "/ds", Seq("p1"))
      // Spark writes "" to __HIVE_DEFAULT_PARTITION__ — outside the k=v contract
      val emptyEx = intercept[IllegalArgumentException](
        ds.write(Seq(("", 1L)).toDF("p1", "v")))
      assert(emptyEx.getMessage.contains("empty-string"))
      // '=', '%', newline etc. get path-escaped by Spark's writer, so the
      // raw k=v path this dataset computes would miss the written dir
      Seq("a=b", "a%b", "a\nb", "a/b").foreach { bad =>
        val ex = intercept[IllegalArgumentException](
          ds.write(Seq((bad, 1L)).toDF("p1", "v")))
        assert(ex.getMessage.contains("path-escapes"), s"value '$bad' should be rejected")
      }
      // path-literal punctuation (not in Spark's escape set) is accepted
      ds.write(Seq(("hello-world_1.2", 1L)).toDF("p1", "v"))
      assert(ds.readPartition(Map("p1" -> "hello-world_1.2")).get.count() == 1)
    }
  }

  test("stranded part-files from an interrupted write are repaired on the next write") {
    withTempDir { dir =>
      val ds = HiveDataset(dir + "/ds", Seq("p1"))
      ds.write(Seq(("1", 1L)).toDF("p1", "v"))
      val partDir = Paths.get(dir, "ds", "p1=1")
      def names() = Files.list(partDir).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.endsWith(".parquet")).sorted.toSeq
      // simulate a crash between parquet commit and the rename pass:
      // one committed file still carries its Spark part-* name
      val frag = names().head
      Files.move(partDir.resolve(frag), partDir.resolve("part-00000-deadbeef.c000.snappy.parquet"))
      ds.append(Seq(("1", 2L)).toDF("p1", "v"))
      val after = names()
      assert(after.forall(graft.util.PathUtils.isFragmentName),
        s"stranded part-file not repaired: $after")
      // the stranded (earlier-committed) file keeps the earlier index:
      // repair assigns 000000 before the append's files get 000001+
      val indices = after.map(graft.util.PathUtils.fragmentIndex)
      assert(indices == indices.sorted && indices.distinct == indices)
      assert(ds.scan().get.count() == 2)
    }
  }

  test("non-string partition column is rejected (both backends)") {
    withTempDir { dir =>
      backends(dir).foreach { case (_, ds) =>
        val intPart = Seq((1, "a", 1L)).toDF("p1", "p2", "v")
        intercept[IllegalArgumentException](ds.write(intPart))
      }
    }
  }

  test("mismatched partition-key set is rejected; absent partition reads None (both backends)") {
    withTempDir { dir =>
      backends(dir).foreach { case (_, ds) =>
        ds.write(exampleDf)
        intercept[IllegalArgumentException](ds.readPartition(Map("p1" -> "1")))
        assert(ds.readPartition(Map("p1" -> "zz", "p2" -> "zz")).isEmpty)
        val got = ds.readPartition(Map("p1" -> "2", "p2" -> "a")).get
        assertSameData(got, exampleDf.filter($"p1" === "2" && $"p2" === "a"))
      }
    }
  }

  test("empty dataset scans as None (both backends)") {
    withTempDir { dir =>
      backends(dir).foreach { case (name, ds) =>
        assert(ds.scan().isEmpty, name)
      }
    }
  }

  // -- hive-specific layout & semantics --

  test("overwrite replaces only touched partitions (dynamic partition overwrite)") {
    withTempDir { dir =>
      val ds = HiveDataset(dir + "/ds", Seq("p1"))
      ds.write(Seq(("1", 1L), ("2", 2L)).toDF("p1", "v"))
      // second write touches only p1=1 with new value
      ds.write(Seq(("1", 99L)).toDF("p1", "v"))
      assertSameData(ds.scan().get, Seq(("1", 99L), ("2", 2L)).toDF("p1", "v"))
    }
  }

  test("physical layout: hive partition directories, partition values as strings") {
    withTempDir { dir =>
      val ds = HiveDataset(dir + "/ds", Seq("p1", "p2"))
      ds.write(exampleDf)
      val base = Paths.get(dir, "ds")
      assert(Files.isDirectory(base.resolve("p1=1/p2=a")))
      assert(Files.isDirectory(base.resolve("p1=1/p2=b")))
      assert(Files.isDirectory(base.resolve("p1=2/p2=a")))
      val got = ds.scan().get
      assert(got.schema("p1").dataType.typeName == "string")
      assert(got.schema("p2").dataType.typeName == "string")
      // read-back column order: data cols alphabetical, then partition cols
      assert(got.columns.toSeq == Seq("v", "p1", "p2"))
      // partitions discovered in lexical order
      assert(ds.partitionPaths() == Seq("p1=1/p2=a", "p1=1/p2=b", "p1=2/p2=a"))
    }
  }

  test("maxRowsPerFragment caps rows per output file") {
    withTempDir { dir =>
      val ds = HiveDataset(dir + "/ds", Seq("p1"), maxRowsPerFragment = 1)
      ds.write(exampleDf.select($"p1", $"v")) // p1=2 partition has 2 rows
      val files = Files.list(Paths.get(dir, "ds", "p1=2")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
      assert(files.length == 2, s"expected 2 one-row fragments, got ${files.toSeq}")
    }
  }

  test("schema evolution: fragments with different columns merge to superset with nulls") {
    withTempDir { dir =>
      // fixture A2: row_a {p:1, a:"1", b:1}; row_c {p:1, b:2} appended
      val ds = HiveDataset(dir + "/ds", Seq("p"))
      ds.write(Seq(("1", "1", 1L)).toDF("p", "a", "b"))
      ds.append(Seq(("1", 2L)).toDF("p", "b"))
      val got = ds.readPartition(Map("p" -> "1")).get
      val expected = Seq(("1", Some("1"), 1L), ("1", None, 2L)).toDF("p", "a", "b")
      assertSameData(got, expected)
    }
  }

  test("schema-merge TYPE conflict raises (documented divergence from the reference)") {
    withTempDir { dir =>
      // Reference semantics (hive_dataset.py:160-164): when two
      // fragments disagree on a column's dtype, the LAST fragment's
      // dtype silently wins. Spark's mergeSchema refuses instead —
      // the survey-sanctioned divergence (SURVEY.md §7.4.6). This test
      // pins that the failure is loud and names the column, so the
      // divergence is a contract, not a surprise.
      val ds = HiveDataset(dir + "/ds", Seq("p"))
      ds.write(Seq(("1", 1L)).toDF("p", "a"))
      ds.append(Seq(("1", "not-a-long")).toDF("p", "a"))
      val ex = intercept[Exception] {
        ds.scan().foreach(_.collect())
      }
      val msg = Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.toLowerCase.contains("merge") || msg.toLowerCase.contains("incompatible"),
        s"expected a schema-merge failure, got: $msg")
    }
  }

  test("delete_partition removes exactly one partition; validates keys") {
    withTempDir { dir =>
      val ds = HiveDataset(dir + "/ds", Seq("p1", "p2"))
      ds.write(exampleDf)
      intercept[IllegalArgumentException](ds.deletePartition(Map("p1" -> "1")))
      ds.deletePartition(Map("p1" -> "2", "p2" -> "a"))
      assertSameData(ds.scan().get, exampleDf.filter(!($"p1" === "2" && $"p2" === "a")))
    }
  }

  test("unpartitioned dataset (no partition columns) round-trips") {
    withTempDir { dir =>
      val ds = HiveDataset(dir + "/ds")
      val df = Seq((1L, "x"), (2L, "y")).toDF("v", "s")
      ds.write(df)
      assertSameData(ds.scan().get, df)
      // overwrite truncates (single root partition)
      ds.write(Seq((3L, "z")).toDF("v", "s"))
      assert(ds.scan().get.count() == 1)
    }
  }

  test("scanPartitions yields one pruned frame per partition in lexical order") {
    withTempDir { dir =>
      val ds = HiveDataset(dir + "/ds", Seq("p1", "p2"))
      ds.write(exampleDf)
      val parts = ds.scanPartitions()
      assert(parts.length == 3)
      assert(parts.map(_.count()).sum == 4)
      assert(parts.head.select($"p1", $"p2").distinct().collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("1", "a")))
    }
  }

  test("malformed partition directory (no '=') raises at discovery") {
    withTempDir { dir =>
      val ds = HiveDataset(dir + "/ds", Seq("p1"))
      ds.write(Seq(("1", 1L)).toDF("p1", "v"))
      // partitions() parses discovered dirs; injecting a bad dir that
      // matches the glob must raise
      Files.createDirectories(Paths.get(dir, "ds", "p1=x"))
      Files.move(Paths.get(dir, "ds", "p1=x"), Paths.get(dir, "ds", "p1=x ")) // still matches p1=*
      assert(ds.partitions().nonEmpty) // well-formed ones parse fine
    }
  }

  test("upsert replaces matched keys, appends new keys, leaves untouched partitions' files alone") {
    withTempDir { dir =>
      val ds = HiveDataset(dir + "/ds", Seq("p1"))
      ds.write(Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L))
        .toDF("p1", "k", "v"))
      def filesOf(p: String) =
        new java.io.File(s"$dir/ds/p1=$p").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
      val bFiles = filesOf("b")
      // replace k=1, add k=9 — both in partition a; b untouched
      ds.upsert(Seq(("a", 1L, 11L), ("a", 9L, 90L)).toDF("p1", "k", "v"), Seq("k"))
      val got = ds.scan().get.select($"k", $"v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 11L, 2L -> 20L, 3L -> 30L, 9L -> 90L))
      assert(filesOf("b") == bFiles,
        "partition b was rewritten by an upsert that never touched it")
      // key columns must exist
      intercept[IllegalArgumentException] {
        ds.upsert(Seq(("a", 1L, 1L)).toDF("p1", "k", "v"), Seq("nope"))
      }
    }
  }

  /** Relative path → size of every file under `root`, hidden ones
    * (checksums, staging) included. */
  private def tree(root: String): Map[String, Long] =
    if (!Files.exists(Paths.get(root))) Map.empty
    else Files.walk(Paths.get(root)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isRegularFile(_))
      .map(f => Paths.get(root).relativize(f).toString -> Files.size(f)).toMap

  private def mergeSchemaRead(path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** `body` with session conf `key` set to `value`, restored after. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` with the footer-schema path switched off: every fragment
    * set is over a threshold of 0. */
  private def withDistributedSchema[T](body: => T): T =
    withConf("spark.sql.sources.parallelPartitionDiscovery.threshold", "0")(body)

  test("write, append and compactPartition run one Spark job; building reads runs none") {
    withTempDir { dir =>
      val ds = HiveDataset(s"$dir/ds", Seq("p1", "p2"))
      assert(jobsOf(ds.write(exampleDf))._1 == 1)
      assert(jobsOf(ds.append(exampleDf))._1 == 1)
      val (scanJobs, scanned) = jobsOf(ds.scan().get)
      val (readJobs, read) = jobsOf(ds.readPartition(Map("p1" -> "2", "p2" -> "a")).get)
      assert(scanJobs == 0 && readJobs == 0, s"scan ran $scanJobs jobs, readPartition $readJobs")
      assert(scanned.count() == 8 && read.count() == 4)
      assert(jobsOf(ds.compactPartition(Map("p1" -> "2", "p2" -> "a")))._1 == 1)
      assert(Files.list(Paths.get(dir, "ds", "p1=2", "p2=a")).toArray
        .count(_.toString.endsWith(".parquet")) == 1)
      assertSameData(ds.scan().get, exampleDf.union(exampleDf))
    }
  }

  test("footer schemas match mergeSchema inference: evolution, nested structs, case-differing names") {
    withTempDir { dir =>
      val ds = HiveDataset(s"$dir/ds", Seq("p"))
      ds.write(Seq(("1", "1", 1L)).toDF("p", "a", "b"))
      ds.append(Seq(("1", 2L)).toDF("p", "b"))
      ds.append(Seq(("2", 3L, "x", 4)).toDF("p", "b", "k", "n")
        .select($"p", $"b", struct($"k", $"n").as("s")))
      ds.append(Seq(("2", 5L, 6L, "y")).toDF("p", "b", "m", "k")
        .select($"p", $"b", struct($"m", $"k").as("s")))
      ds.append(Seq(("2", 7L)).toDF("p", "B"))
      def check(got: DataFrame, ref: DataFrame): Unit = {
        assert(got.schema == ref.schema, s"\n${got.schema.treeString}\nvs\n${ref.schema.treeString}")
        assertSameData(got, ref)
      }
      def ordered(df: DataFrame, parts: String*): DataFrame =
        df.select((df.columns.filterNot(parts.contains).sorted ++ parts).map(col).toSeq: _*)
      Seq("1", "2").foreach { p =>
        val ref = mergeSchemaRead(s"$dir/ds/p=$p").withColumn("p", lit(p))
        check(ds.readPartition(Map("p" -> p)).get, ordered(ref, "p"))
      }
      val ref = mergeSchemaRead(s"$dir/ds").withColumn("p", $"p".cast("string"))
      check(ds.scan().get, ordered(ref, "p"))
      // the distributed path gives the same rows and schema
      withDistributedSchema {
        check(ds.scan().get, ordered(ref, "p"))
        check(ds.readPartition(Map("p" -> "2")).get,
          ordered(mergeSchemaRead(s"$dir/ds/p=2").withColumn("p", lit("2")), "p"))
      }
    }
  }

  test("the distributed schema path is taken over the threshold and reads the same data") {
    withTempDir { dir =>
      val ds = HiveDataset(s"$dir/ds", Seq("p1", "p2"))
      ds.write(exampleDf)
      ds.append(exampleDf.withColumn("w", lit("x")))
      val small = ds.scan().get
      withDistributedSchema {
        val (jobs, big) = jobsOf(ds.scan().get)
        assert(jobs > 0, "threshold 0 must fall back to Spark's schema-merge job")
        assert(big.schema == small.schema)
        assertSameData(big, small)
        val part = ds.readPartition(Map("p1" -> "1", "p2" -> "a")).get
        assertSameData(part, small.where($"p1" === "1" && $"p2" === "a"))
        assert(part.schema == small.schema.copy(
          fields = small.schema.fields.map(f => if (Seq("p1", "p2").contains(f.name)) f.copy(nullable = false) else f)))
      }
    }
  }

  test("scan returns partition values as the strings on disk (01, 1 and 1.10 stay apart)") {
    withTempDir { dir =>
      val ds = HiveDataset(s"$dir/ds", Seq("p"))
      val df = Seq(("01", 1L), ("1", 2L), ("1.10", 3L)).toDF("p", "v")
      ds.write(df)
      assert(ds.partitionPaths() == Seq("p=01", "p=1", "p=1.10"))
      // with Spark's partition-type inference on (its default; graft
      // sessions turn it off) on both schema paths
      withConf("spark.sql.sources.partitionColumnTypeInference.enabled", "true") {
        assertSameData(ds.scan().get, df)
        withDistributedSchema(assertSameData(ds.scan().get, df))
        assert(ds.scan().get.schema("p").dataType == org.apache.spark.sql.types.StringType)
      }
    }
  }

  test("a nondeterministic input is evaluated once: rows land where the published partitions say") {
    withTempDir { dir =>
      val ds = HiveDataset(s"$dir/ds", Seq("p"))
      HiveDatasetSpec.evaluations.set(0)
      // "a" on the first evaluation, "b" on every later one
      val flip = udf(() => if (HiveDatasetSpec.evaluations.getAndIncrement() == 0) "a" else "b")
        .asNondeterministic()
      ds.write(Seq(1L).toDF("v").withColumn("p", flip()))
      val got = ds.scan().get.collect()
      assert(got.length == 1)
      val p = got.head.getAs[String]("p")
      assert(ds.partitionPaths() == Seq(s"p=$p"))
      val files = tree(s"$dir/ds").keys.filter(_.endsWith(".parquet")).toSeq
      assert(files.length == 1 && files.forall(f => f.startsWith(s"p=$p/") &&
        graft.util.PathUtils.isFragmentName(f)), s"files: $files")
    }
  }

  test("upsert evaluates a nondeterministic input once: no partition is overwritten unmerged") {
    withTempDir { dir =>
      val ds = HiveDataset(s"$dir/ds", Seq("p"))
      ds.write(Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("p", "k", "v"))
      HiveDatasetSpec.evaluations.set(0)
      // "a" on the first evaluation, "b" on every later one
      val flip = udf(() => if (HiveDatasetSpec.evaluations.getAndIncrement() == 0) "a" else "b")
        .asNondeterministic()
      ds.upsert(Seq((9L, 90L)).toDF("k", "v").withColumn("p", flip()), Seq("k"))
      val got = ds.scan().get.select($"p", $"k", $"v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(("a", 1L, 10L), ("a", 9L, 90L), ("b", 2L, 20L)))
    }
  }

  test("a write whose input fails mid-job leaves the dataset unchanged and no staging behind") {
    withTempDir { dir =>
      val ds = HiveDataset(s"$dir/ds", Seq("p1"))
      ds.write(Seq(("1", 1L), ("2", 2L)).toDF("p1", "v"))
      val before = tree(s"$dir/ds")
      val boom = udf((id: Long) => if (id == 3L) throw new IllegalStateException("boom") else id)
        .asNondeterministic()
      // two tasks: one commits its files to staging, the other fails
      val bad = spark.range(0, 4, 1, 2).select(boom($"id").as("v"), ($"id" % 2).cast("string").as("p1"))
      intercept[Exception](ds.write(bad))
      intercept[Exception](ds.append(bad))
      assert(tree(s"$dir/ds") == before)
      assert(!new java.io.File(s"$dir/ds").list().exists(_.startsWith("_graft_staging")))
      assertSameData(ds.scan().get, Seq((1L, "1"), (2L, "2")).toDF("v", "p1"))
    }
  }

  test("null, empty-string and literal __HIVE_DEFAULT_PARTITION__ values are rejected; nothing is published") {
    withTempDir { dir =>
      val ds = HiveDataset(s"$dir/ds", Seq("p1"))
      ds.write(Seq(("1", 1L)).toDF("p1", "v"))
      val before = tree(s"$dir/ds")
      Seq(null, "", "__HIVE_DEFAULT_PARTITION__").foreach { bad =>
        val ex = intercept[IllegalArgumentException](
          ds.append(Seq(("1", 2L), (bad, 3L)).toDF("p1", "v")))
        assert(ex.getMessage.contains("null") && ex.getMessage.contains("empty-string") &&
          ex.getMessage.contains("__HIVE_DEFAULT_PARTITION__"), ex.getMessage)
        assert(tree(s"$dir/ds") == before, s"value '$bad' changed the dataset")
      }
    }
  }

  test("relative dataset URLs work") {
    val rel = s"graft-rel-test-${System.nanoTime()}"
    val ds = HiveDataset(rel, Seq("p1"))
    try {
      ds.write(Seq(("1", 1L)).toDF("p1", "v"))
      assert(ds.scan().get.count() == 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(new java.io.File(".").getCanonicalPath, rel))
    }
  }
}

object HiveDatasetSpec {
  /** Evaluation counter for the nondeterministic-input spec: JVM-wide,
    * so every task of a local-mode job sees it. */
  val evaluations = new java.util.concurrent.atomic.AtomicInteger()
}
