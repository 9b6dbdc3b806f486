package graft

import graft.sources.{DeltaReader, DeltaWriter, ManagedDataset}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The dataset contract of [[ManagedDataset]], a view over one Delta
  * table: versioned atomic commits, snapshot (reader) isolation, time
  * travel, concurrent writers, skip scans, merge/restore and CHECK
  * constraints, all served by the Delta log. Reference surface:
  * polario's delta_dataset.py:10-62. */
class ManagedDatasetSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (String, Long)*): DataFrame = rows.toDF("p1", "v")

  /** Every data file under `url`, log excluded. */
  private def dataFiles(url: String): List[java.nio.file.Path] =
    Files.walk(Paths.get(url)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .filterNot(_.toString.contains("_delta_log")).toList

  test("every write/append lands a new version; versions ascend from 0") {
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Seq("p1"))
      assert(ds.versions().isEmpty)
      ds.write(df("1" -> 1L))
      ds.append(df("1" -> 2L))
      ds.write(df("2" -> 3L))
      assert(ds.versions() == Seq(0L, 1L, 2L))
    }
  }

  test("readVersion time-travels: overwrite replaces, append accumulates") {
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Seq("p1"))
      ds.write(df("1" -> 1L))                       // v0 = {1}
      ds.append(df("2" -> 2L))                      // v1 = {1,2}
      ds.write(df("3" -> 3L))                       // v2 = {3}  (full replace)
      assertSameData(ds.readVersion(0), df("1" -> 1L))
      assertSameData(ds.readVersion(1), df("1" -> 1L, "2" -> 2L))
      assertSameData(ds.readVersion(2), df("3" -> 3L))
      assertSameData(ds.scan().get, ds.readVersion(2))
      // overwrite is whole-table (Delta semantics): v0's partition is
      // gone from the latest snapshot even though v2 never wrote p1=1
      assert(ds.readPartition(Map("p1" -> "1")).isEmpty)
      intercept[IllegalArgumentException](ds.readVersion(99))
    }
  }

  test("a snapshot resolved before an overwrite keeps reading the OLD data") {
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Seq("p1"))
      ds.write(df("1" -> 1L, "2" -> 2L))
      val pinned = ds.scan().get // lazy — resolves v0's file list now
      ds.write(df("1" -> 99L))   // v1 rewrites the table, p1=1 included
      // the pinned plan still reads v0's (immutable) files: old
      // snapshot, not the new one, and NEVER a mix
      assertSameData(pinned, df("1" -> 1L, "2" -> 2L))
      assertSameData(ds.scan().get, df("1" -> 99L))
    }
  }

  test("uncommitted data directories are invisible to readers") {
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Seq("p1"))
      ds.write(df("1" -> 1L))
      // simulate a writer that crashed after its data landed but
      // before its commit published: real parquet in a partition
      // directory and in a leftover staging tree, in no log entry
      val stray = Paths.get(dir, "ds", "p1=9")
      Files.createDirectories(stray)
      df("9" -> 9L).drop("p1").write.parquet(stray.toString + "/data.parquet")
      df("8" -> 8L).write.partitionBy("p1")
        .parquet(Paths.get(dir, "ds", "staging-deadbeef").toString)
      assertSameData(ds.scan().get, df("1" -> 1L))
      assert(ds.versions() == Seq(0L))
      assert(ds.readPartition(Map("p1" -> "9")).isEmpty)
    }
  }

  test("concurrent appends from racing writers all land; none are lost") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      ManagedDataset(url, Seq("p1")).write(df("0" -> 0L))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futures = (1 to 8).map { i =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            // one independent writer instance per thread, as two JVMs
            // racing on shared storage would be
            def call(): Unit =
              ManagedDataset(url, Seq("p1")).append(df(i.toString -> i.toLong))
          })
        }
        futures.foreach(_.get())
      } finally pool.shutdown()
      val ds = ManagedDataset(url, Seq("p1"))
      // 9 committed versions (1 write + 8 appends), every row present:
      // losers of a commit race re-based and retried, so no append
      // overwrote another's commit
      assert(ds.versions() == (0L to 8L))
      assertSameData(ds.scan().get, (0 to 8).map(i => (i.toString, i.toLong)).toDF("p1", "v"))
    }
  }

  test("compact collapses an append chain into one commit, same data") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      val ds = ManagedDataset(url, Seq("p1"))
      ds.write(df("1" -> 1L))
      (2 to 5).foreach(i => ds.append(df("1" -> i.toLong)))
      val expect = (1 to 5).map(i => ("1", i.toLong)).toDF("p1", "v")
      // the view owns no maintenance: the table's own compaction
      // rewrites the five small files of p1=1 in one commit
      assert(DeltaReader.snapshot(url).get.files.size == 5)
      assert(DeltaWriter.compact(url) == 5L)
      assert(DeltaReader.snapshot(url).get.files.size == 1)
      assertSameData(ds.scan().get, expect)
      // a second compact is a no-op; the pre-compact history still reads
      assert(DeltaWriter.compact(url) == 5L)
      assertSameData(ds.readVersion(4), expect)
    }
  }

  test("append-time schema evolution null-fills across commits") {
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Seq("p1"))
      ds.write(Seq(("1", 1L)).toDF("p1", "v"))
      ds.append(Seq(("2", 2L, "x")).toDF("p1", "v", "extra"))
      val got = ds.scan().get
      assert(got.columns.sorted.toSeq == Seq("extra", "p1", "v"))
      assert(got.where($"p1" === "1").select("extra").collect().head.isNullAt(0))
      assert(got.where($"p1" === "2").select("extra").collect().head.getString(0) == "x")
    }
  }

  test("appendBatch is exactly-once: redelivered batch ids are no-ops") {
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Seq("p1"))
      assert(ds.lastCommittedBatch("ingest").isEmpty)
      assert(ds.appendBatch(df("1" -> 1L), "ingest", 0L))
      assert(ds.appendBatch(df("2" -> 2L), "ingest", 1L))
      // restart-style redelivery of batch 1: detected in the log, skipped
      assert(!ds.appendBatch(df("2" -> 2L), "ingest", 1L))
      // a LOWER id than the last committed is also stale
      assert(!ds.appendBatch(df("1" -> 1L), "ingest", 0L))
      assert(ds.lastCommittedBatch("ingest").contains(1L))
      assertSameData(ds.scan().get, df("1" -> 1L, "2" -> 2L))
      // ids are scoped per app: another query's batch 0 still lands,
      // and plain (untagged) appends never consume an id
      ds.append(df("9" -> 9L))
      assert(ds.appendBatch(df("3" -> 3L), "other", 0L))
      assert(ds.lastCommittedBatch("ingest").contains(1L))
      assertSameData(ds.scan().get,
        df("1" -> 1L, "2" -> 2L, "9" -> 9L, "3" -> 3L))
    }
  }

  test("concurrent deliveries of ONE batch commit it exactly once") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      ManagedDataset(url, Seq("p1")).write(df("0" -> 0L))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      try {
        val futures = (1 to 6).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean =
              ManagedDataset(url, Seq("p1")).appendBatch(df("7" -> 7L), "ingest", 7L)
          })
        }
        val landed = futures.map(_.get()).count(identity)
        assert(landed == 1, s"exactly one delivery must win, got $landed")
      } finally pool.shutdown()
      val ds = ManagedDataset(url, Seq("p1"))
      assertSameData(ds.scan().get, df("0" -> 0L, "7" -> 7L))
      assert(ds.lastCommittedBatch("ingest").contains(7L))
    }
  }

  test("writes through the view leave only _delta_log and non-hidden data paths") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      val ds = ManagedDataset(url, Seq("p1"), Seq("v"))
      ds.write(df("1" -> 1L, "2" -> 2L))
      ds.append(df("3" -> 3L))
      assert(ds.appendBatch(df("4" -> 4L), "ingest", 0L))
      ds.merge(df("1" -> 10L), Seq("p1"))
      ds.restore(1L)
      // Hadoop's listing hides its own .crc side files
      val root = new org.apache.hadoop.fs.Path(url)
      val names = root.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(root).map(_.getPath.getName).toSeq.sorted
      assert(names.head == "_delta_log" &&
        names.tail.forall(n => !n.startsWith("_") && !n.startsWith(".")),
        s"unexpected entries under the table root: $names")
      // partition directories, and the merge's deletion-vector sidecar
      assert(names.tail.forall(n =>
        n.startsWith("p1=") || n.startsWith("deletion_vector_")), names)
    }
  }

  test("appendBatch job counts: committed batch 2, redelivered 0") {
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Nil, Seq("k"))
      def batch(lo: Long) = (lo until lo + 40L).map(i => (i % 7, s"p$i")).toDF("k", "payload")
      assert(ds.appendBatch(batch(0L), "app", 0L))
      // the write and the one bloom pass over the landed files
      // (explicit read schema: no inference job)
      val (committed, ok) = jobsOf(ds.appendBatch(batch(40L), "app", 1L))
      assert(ok && committed == 2, s"committed batch ran $committed jobs")
      // the txn gate returns before any data lands
      val (redelivered, again) = jobsOf(ds.appendBatch(batch(40L), "app", 1L))
      assert(!again && redelivered == 0, s"redelivered batch ran $redelivered jobs")
      // the equality probe is canonicalized on the driver: building the
      // frame runs nothing
      val (built, frame) = jobsOf(ds.scanPrunedEquality("k", "3").get)
      assert(built == 0, s"building the equality scan ran $built jobs")
      assert(frame.count() == 11L)
    }
  }

  test("empty-frame commit is a real version with schema, not table-absence") {
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Seq("p1"))
      ds.write(df().limit(0))
      val got = ds.scan().getOrElse(fail("post-commit scan must be Some"))
      assert(got.count() == 0)
      assert(got.columns.sorted.toSeq == Seq("p1", "v"))
    }
  }

  // ---- file-stats skip scan --------------------------------------

  private def rangeTable(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    (1L to 400L).map(i => (i, s"row$i")).toDF("k", "payload")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k"))
  }

  /** Overwrite every parquet file under `root` whose recorded k-range
    * satisfies `pred` with garbage bytes — any later read of it fails. */
  private def corruptFilesWhere(url: String, pred: Long => Boolean): Int = {
    val victims = dataFiles(url)
      .filter { p =>
        // recover this file's range by reading it directly first
        val mn = spark.read.parquet(p.toString)
          .agg(org.apache.spark.sql.functions.min("k")).head.getLong(0)
        pred(mn)
      }.toList
    victims.foreach(p => Files.write(p, "not parquet".getBytes))
    victims.size
  }

  test("scanPruned == scan().filter, and PRUNED files are physically never read") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      val ds = ManagedDataset(url, Nil, Seq("k"))
      ds.write(rangeTable(spark))
      // sanity: 4 range-clustered files, each with recorded bounds
      val expected = ds.scan().get
        .filter(col("k") >= 50L && col("k") <= 120L)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(expected == (50L to 120L))
      // corrupt every file whose data sits entirely ABOVE the probe
      // range — a reader that opens them dies, so a green result
      // proves the log's stats pruned them before any IO
      val n = corruptFilesWhere(url, mn => mn > 200L)
      assert(n >= 1, "the 400-row range table must have a high file to corrupt")
      val got = ds.scanPruned("k", "50", "120").get
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expected)
      // control: the corrupted files ARE in the unpruned path
      intercept[Exception](ds.scan().get.agg(sum(col("k"))).head)
    }
  }

  test("skip-scan stats survive append and keep pruning per commit") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      val ds = ManagedDataset(url, Nil, Seq("k"))
      import spark.implicits._
      ds.write((1L to 100L).map(i => (i, s"a$i")).toDF("k", "payload")
        .repartitionByRange(2, col("k")))
      ds.append((101L to 200L).map(i => (i, s"b$i")).toDF("k", "payload")
        .repartitionByRange(2, col("k")))
      // probe inside the first commit only; corrupt the whole second
      // commit — append-carried stats must prune it entirely
      val n = corruptFilesWhere(url, mn => mn > 100L)
      assert(n >= 2)
      val got = ds.scanPruned("k", "10", "40").get
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (10L to 40L))
    }
  }

  test("stats-free manifests degrade to keep-everything (correct, unpruned)") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      ManagedDataset(url, Nil).write(rangeTable(spark)) // no statsColumns
      // the creating commit recorded no bloom columns, so a later view
      // naming some adds none: equality skipping falls back to the
      // footer min/max windows, range skipping needs no setting
      val ds = ManagedDataset(url, Nil, Seq("k"))
      ds.append(Seq((401L, "row401")).toDF("k", "payload"))
      assert(DeltaReader.snapshot(url).get.files.forall(_.tags.isEmpty))
      val got = ds.scanPruned("k", "50", "120").get
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (50L to 120L))
      assert(ds.scanPrunedEquality("k", "60").get.count() == 1L)
      assert(ds.prunedFileCountEquality("k", "60").contains(1L))
      intercept[IllegalArgumentException](ds.scanPruned("nope", "0", "1"))
    }
  }

  test("Hilbert-clustered layout prunes 2-D range scans a linear sort cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
    val withH = graft.operators.Sequencing
      .withHilbertValue(grid, "x", "y", bits = 5)
    withTempDir { dir =>
      val (linear, hilbert) = (s"$dir/linear", s"$dir/hilbert")
      ManagedDataset(linear, Nil).write(grid.repartitionByRange(16, col("x"), col("y")))
      ManagedDataset(hilbert, Nil)
        .write(withH.repartitionByRange(16, col("hval")).drop("hval"))
      // a thin y-band across the full x range: x-leading linear sort
      // keeps every file (its y bounds all span the grid); the
      // Hilbert layout keeps only the blobs the band crosses
      val ranges = Seq(("x", "0", "31"), ("y", "8", "11"))
      def kept(url: String) = DeltaReader.prunedSnapshot(url, ranges).get.files.size
      val nLin = kept(linear)
      val nHil = kept(hilbert)
      assert(nLin == 16L, s"x-sorted layout cannot prune a y-band (got $nLin)")
      assert(nHil < nLin / 2,
        s"Hilbert blobs must prune most files for a thin band (got $nHil of $nLin)")
      // both reads return exactly the band
      val expected = (0L until 32L).flatMap(x => (8L to 11L).map(x -> _)).toSet
      for (url <- Seq(linear, hilbert)) {
        val got = DeltaReader.scanPruned(url, ranges).get
          .select("x", "y").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == expected)
      }
    }
  }

  test("statsColumns must be data columns, and string-typed stats prune lexically") {
    intercept[IllegalArgumentException](
      ManagedDataset("/tmp/never", Seq("p1"), Seq("p1")))
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Nil, Seq("payload"))
      import spark.implicits._
      ds.write(Seq((1L, "alpha"), (2L, "beta"), (3L, "zeta"))
        .toDF("k", "payload").repartition(1))
      val got = ds.scanPruned("payload", "aaa", "bzz").get
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L))
    }
  }

  test("bloom equality skip: files not carrying the key are physically never read") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      val ds = ManagedDataset(url, Nil, Seq("k"))
      import spark.implicits._
      // hash-distributed: every file's [min,max] spans the domain, so
      // min/max windows skip NOTHING — only the bloom can
      val data = (1L to 400L).map(i => (i % 20, s"p$i")).toDF("k", "payload")
      ds.write(data.repartition(8, col("k")))
      val expected = ds.scan().get.filter(col("k") === 7L).count()
      assert(expected == 20L)
      // corrupt every file that does NOT contain k=7 — a reader that
      // opens one dies, so a green result proves bloom-skipping
      val victims = dataFiles(url)
        .filter { p =>
          spark.read.parquet(p.toString)
            .filter(col("k") === 7L).isEmpty
        }.toList
      assert(victims.nonEmpty, "hash distribution must leave k=7-free files")
      victims.foreach(p => Files.write(p, "not parquet".getBytes))
      assert(ds.scanPrunedEquality("k", "7").get.count() == expected)
      // control: the corrupted files ARE in the unpruned path
      intercept[Exception](ds.scan().get.agg(sum(col("k"))).head)
      // diagnostics agree: fewer files read than exist
      val kept = ds.prunedFileCountEquality("k", "7").get
      assert(kept >= 1 && kept < 8)
    }
  }

  test("bloom skip is exact under appends and range predicates stay unaffected") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      val ds = ManagedDataset(url, Nil, Seq("k"))
      import spark.implicits._
      ds.write((1L to 100L).map(i => (i % 10, i)).toDF("k", "v")
        .repartition(4, col("k")))
      ds.append((100L to 200L).map(i => (i % 10 + 10, i)).toDF("k", "v")
        .repartition(4, col("k")))
      val got = ds.scanPrunedEquality("k", "13").get
        .select(col("v")).collect().map(_.getLong(0)).sorted.toSeq
      val want = ds.scan().get.filter(col("k") === 13L)
        .select(col("v")).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want && want.nonEmpty)
      // absent key: every file bloom-rejects -> empty, no error
      assert(ds.scanPrunedEquality("k", "999").get.count() == 0L)
      // unparseable key raises loudly (same outcome ANSI Spark gives
      // filter(col = CAST('x' AS BIGINT))) — never a silent skip
      val e = intercept[IllegalArgumentException](
        ds.scanPrunedEquality("k", "x"))
      assert(e.getMessage.contains("does not parse as"))
    }
  }

  test("bloom probe canonicalizes non-canonical but equal renderings") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      val ds = ManagedDataset(url, Nil, Seq("d"))
      import spark.implicits._
      // double column: blooms hash CAST(d AS STRING) = "20000.0";
      // a caller probing the equal-but-different spelling "20000"
      // must still find the rows (round 6 advice: a raw-string probe
      // hashed "20000" and silently dropped the matching files)
      ds.write((1 to 50).map(i => (i.toDouble * 10000, i)).toDF("d", "v")
        .repartition(4, col("d")))
      val got = ds.scanPrunedEquality("d", "20000").get.count()
      assert(got == 1L)
      // the canonical spelling keeps working too
      assert(ds.scanPrunedEquality("d", "20000.0").get.count() == 1L)
      // and both agree on the diagnostics path
      assert(ds.prunedFileCountEquality("d", "20000").get ==
        ds.prunedFileCountEquality("d", "20000.0").get)
    }
  }

  test("restore rolls back as a new audited commit; row counts read from the log") {
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Nil, Seq("k"))
      import spark.implicits._
      ds.write((1L to 10L).map(i => (i, s"v$i")).toDF("k", "p"))
      ds.append((11L to 15L).map(i => (i, s"v$i")).toDF("k", "p"))
      val restored = ds.restore(0L)
      assert(restored == 2L)
      // the restore is a real commit: history intact, snapshot = v0
      assert(ds.versions() == Seq(0L, 1L, 2L))
      assert(ds.scan().get.count() == 10L)
      assert(ds.readVersion(1L).count() == 15L) // audit trail preserved
      // row counts from the log's file stats, no data IO needed
      assert(ds.versionRowCounts() == Seq(0L -> 10L, 1L -> 15L, 2L -> 10L))
      intercept[Exception](ds.restore(99L))
    }
  }

  test("merge: update replaces, delete drops, insert lands, untouched pass through") {
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Nil, Seq("k"))
      import spark.implicits._
      ds.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "p"))
      val source = Seq((2L, "B2"), (3L, "whatever"), (4L, "d"), (5L, "gone"))
        .toDF("k", "p")
      val v = ds.merge(source, Seq("k"),
        deleteWhen = Some(col("p") === "whatever" || col("p") === "gone"))
      assert(v == 1L)
      val got = ds.scan().get.collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // 1 untouched, 2 replaced, 3 deleted, 4 inserted, 5 delete-noop
      assert(got == Map(1L -> "a", 2L -> "B2", 4L -> "d"))
      // pre-merge state still readable (audit)
      assert(ds.readVersion(0L).count() == 3L)
    }
  }

  test("merge refuses ambiguous sources (duplicate keys)") {
    withTempDir { dir =>
      val ds = ManagedDataset(s"$dir/ds", Nil, Seq("k"))
      import spark.implicits._
      ds.write(Seq((1L, "a")).toDF("k", "p"))
      val dup = Seq((1L, "x"), (1L, "y")).toDF("k", "p")
      val e = intercept[IllegalArgumentException](ds.merge(dup, Seq("k")))
      assert(e.getMessage.contains("duplicate keys"))
    }
  }

  test("CHECK constraints reject a violating batch atomically") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      val ds = ManagedDataset(url, Nil)
      import spark.implicits._
      ds.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
      ds.addConstraint("positive_v", "v > 0")
      assert(ds.constraints() == Map("positive_v" -> "v > 0"))
      val versionsBefore = ds.versions()
      val dirsBefore = Files.list(Paths.get(url)).count()
      val e = intercept[IllegalArgumentException](
        ds.append(Seq((3L, -5L), (4L, 40L)).toDF("k", "v")))
      assert(e.getMessage.contains("positive_v") &&
        e.getMessage.contains("1 row(s)"))
      // NOTHING landed: no new version, no stray data file, same rows
      assert(ds.versions() == versionsBefore)
      assert(Files.list(Paths.get(url)).count() == dirsBefore)
      assert(ds.scan().get.count() == 2L)
      // a clean batch still flows
      ds.append(Seq((5L, 50L)).toDF("k", "v"))
      assert(ds.scan().get.count() == 3L)
    }
  }

  test("CHECK constraints: existing-data validation, null semantics, survival") {
    withTempDir { dir =>
      val url = s"$dir/ds"
      val ds = ManagedDataset(url, Nil)
      import spark.implicits._
      ds.write(Seq((1L, Some(10L)), (2L, None)).toDF("k", "v"))
      // current data already violates -> refused, not registered
      val e = intercept[IllegalArgumentException](
        ds.addConstraint("big", "v > 100"))
      assert(e.getMessage.contains("big"))
      assert(ds.constraints().isEmpty)
      // NULL passes plain CHECK (SQL semantics) ...
      ds.addConstraint("pos", "v > 0")
      ds.append(Seq((3L, Option.empty[Long])).toDF("k", "v"))
      // ... and the IS NOT NULL conjunct forbids it
      ds.dropConstraint("pos")
      val e2 = intercept[IllegalArgumentException] {
        ds.addConstraint("pos_nn", "v IS NOT NULL AND v > 0")
      }
      assert(e2.getMessage.contains("pos_nn"))
      // constraints are metadata: they survive overwrite AND a fresh
      // reader instance
      ds.addConstraint("k_pos", "k > 0")
      ds.write(Seq((9L, Some(90L))).toDF("k", "v"))
      val fresh = ManagedDataset(url, Nil)
      assert(fresh.constraints() == Map("k_pos" -> "k > 0"))
      val e3 = intercept[IllegalArgumentException](
        fresh.append(Seq((-1L, Some(1L))).toDF("k", "v")))
      assert(e3.getMessage.contains("k_pos"))
      // dropConstraint reopens the gate
      fresh.dropConstraint("k_pos")
      fresh.append(Seq((-1L, Some(1L))).toDF("k", "v"))
      assert(fresh.scan().get.count() == 2L)
    }
  }
}
