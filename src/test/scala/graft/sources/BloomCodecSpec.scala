package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Package-private contracts of the per-file equality blooms
  * ([[BloomTags]]) — the codec, the portable hash, and the `add.tags`
  * they travel in through every replay path. */
class BloomCodecSpec extends graft.SparkSpec {
  import spark.implicits._

  test("bloom bitmap codec round-trips and pre-bloom manifests stay conservative") {
    val positions = Seq(0L, 7L, 8L, 511L, 1023L)
    val hex = BloomTags.bitmapHex(positions)
    assert(hex.length == 256)
    positions.foreach(p => assert(BloomTags.bitSet(hex, p.toInt)))
    assert(!BloomTags.bitSet(hex, 1))
    assert(!BloomTags.bitSet(hex, 1022))
    // a bitmap holding a value's bits may contain it; an empty one
    // excludes it; a malformed tag proves nothing and keeps the file
    val seven = BloomTags.bitmapHex(BloomTags.positions("7").map(_.toLong))
    assert(BloomTags.mayContain(seven, "7"))
    assert(!BloomTags.mayContain(BloomTags.bitmapHex(Nil), "7"))
    assert(BloomTags.mayContain("beef", "7"))
    // a file without a bloom tag is pruned by its min/max window only
    val snap = DeltaReader.DeltaSnapshot(0L,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"), Nil, Seq(
        DeltaReader.DeltaFile("/t/a.parquet", Map.empty, stats = Some(
          """{"numRecords":2,"minValues":{"k":5},"maxValues":{"k":9}}""")),
        DeltaReader.DeltaFile("/t/b.parquet", Map.empty, stats = Some(
          """{"numRecords":2,"minValues":{"k":5},"maxValues":{"k":9}}"""),
          tags = Map("graft.bloom.k" -> BloomTags.bitmapHex(Nil)))))
    assert(DeltaReader.prune(snap, Seq(("k", "7", "7"))).files.map(_.path) ==
      Seq("/t/a.parquet"))
    assert(DeltaReader.prune(snap, Seq(("k", "42", "42"))).files.isEmpty)
  }

  test("bloom tags survive fast and distributed replay and the v10 checkpoint") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = ManagedDataset(table, Nil, Seq("k"))
      // 12 commits of hash-distributed files: the v10 checkpoint
      // carries the tags of the first eleven
      (0L to 11L).foreach { b =>
        ds.append((0L until 40L).map(i => (b * 100 + i % 20, s"p$i")).toDF("k", "payload")
          .repartition(4, $"k"))
      }
      val log = Paths.get(table, "_delta_log")
      assert(Files.exists(log.resolve(f"${10L}%020d.checkpoint.parquet")))
      val head = DeltaReader.snapshot(table).get
      assert(head.files.nonEmpty && head.files.forall(_.tags.contains("graft.bloom.k")))
      (0L to 11L).foreach { v =>
        assert(DeltaReader.snapshotAt(table, Some(v)) ==
          DeltaReader.snapshotAtImpl(table, Some(v), forceDistributed = true),
          s"fast vs distributed replay diverged at v$v")
      }
      // with the covered commits gone, the checkpoint alone carries them
      (0L to 10L).foreach(v => Files.delete(log.resolve(f"$v%020d.json")))
      Seq(false, true).foreach { dist =>
        assert(DeltaReader.snapshotAtImpl(table, None, dist).get == head)
      }
      // equality pruning still skips: k = 507 lives in one file of batch 5
      val kept = ds.prunedFileCountEquality("k", "507").get
      assert(kept >= 1 && kept < 4, s"kept $kept files")
      assert(ds.scanPrunedEquality("k", "507").get.count() == 2L)
      // victims: every file but the survivors, corrupted — never opened
      val survivors = DeltaReader.prune(head, Seq(("k", "507", "507")))
        .files.map(f => Paths.get(new java.net.URI(f.path)).toString).toSet
      Files.walk(Paths.get(table)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_delta_log"))
        .filterNot(p => survivors(p.toString))
        .foreach(p => Files.write(p, "not parquet".getBytes))
      assert(ds.scanPrunedEquality("k", "507").get.count() == 2L)
    }
  }

  test("portable hash matches the SQL rendering (driver-side vs HOF expression)") {
    val samples = Seq("7", "hello", "12345678901", "")
    samples.foreach { s0 =>
      val driver = BloomTags.portableHash(s0)
      val sqlH = spark.sql(
        "SELECT " + graft.functions.TextHash.spark.rollingHashHof(s"'$s0'"))
        .head().getLong(0)
      assert(driver == sqlH, s"hash mismatch for '$s0'")
    }
  }
}
