package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Fault injection on the LogStore seam ([[LogStores.putIfAbsent]]):
  * the exists+rename window is raced and crashed deterministically
  * via the injectable hook, pinning the 100 TB object-store
  * correctness line — the LOSER of a publish race returns false (and
  * retries at the next version); it NEVER clobbers the winner's
  * committed bytes; a crash inside the window leaves only an
  * invisible temp that the log cleanup reclaims. */
class LogStoreSpec extends SparkSpec {
  import spark.implicits._

  implicit private val s: org.apache.spark.sql.SparkSession = spark

  private def hfs(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def writeTmp(dir: String, body: String): Path = {
    val p = Paths.get(dir, s"_tmp-${java.util.UUID.randomUUID}.json")
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes("UTF-8"))
    new Path(p.toUri)
  }

  test("renameIfAbsent: an interloper landing INSIDE the race window makes the loser fail, never clobber") {
    withTempDir { dir =>
      val fs = hfs(dir)
      val target = new Path(Paths.get(dir, "00000000000000000007.json").toUri)
      // loser's temp is fully written; the interloper lands AFTER the
      // exists-check said "absent" (the stale-check race an object
      // store cannot rule out)
      val tmp = writeTmp(dir, "loser")
      val won = LogStores.renameIfAbsent(fs, tmp, target, () => {
        Files.write(Paths.get(target.toUri.getPath),
          "winner".getBytes("UTF-8"))
        ()
      })
      assert(!won, "the stale-exists loser must report failure")
      assert(new String(Files.readAllBytes(
        Paths.get(target.toUri.getPath)), "UTF-8") == "winner",
        "the loser CLOBBERED the winner's committed bytes")
    }
  }

  test("renameIfAbsent: a crash inside the window publishes nothing; the retry succeeds") {
    withTempDir { dir =>
      val fs = hfs(dir)
      val target = new Path(Paths.get(dir, "00000000000000000003.json").toUri)
      val tmp = writeTmp(dir, "attempt-1")
      intercept[RuntimeException](LogStores.renameIfAbsent(fs, tmp, target,
        () => throw new RuntimeException("kill -9")))
      assert(!Files.exists(Paths.get(target.toUri.getPath)),
        "a crashed publish must be invisible to readers")
      // the writer process comes back and retries: clean success
      val tmp2 = writeTmp(dir, "attempt-2")
      assert(LogStores.renameIfAbsent(fs, tmp2, target, () => ()))
      assert(new String(Files.readAllBytes(
        Paths.get(target.toUri.getPath)), "UTF-8") == "attempt-2")
      // only stale temps remain — invisible to any version listing,
      // reclaimed by the age-guarded log cleanup
      assert(Files.exists(Paths.get(tmp.toUri.getPath)))
    }
  }

  test("linkIfAbsent (file:// rung): pre-existing target loses cleanly") {
    withTempDir { dir =>
      val fs = hfs(dir)
      val target = new Path(Paths.get(dir, "00000000000000000001.json").toUri)
      Files.write(Paths.get(target.toUri.getPath),
        "winner".getBytes("UTF-8"))
      val tmp = writeTmp(dir, "loser")
      assert(!LogStores.putIfAbsent(fs, tmp, target))
      assert(new String(Files.readAllBytes(
        Paths.get(target.toUri.getPath)), "UTF-8") == "winner")
      // putIfAbsent always reclaims its temp on the non-crash path
      assert(!Files.exists(Paths.get(tmp.toUri.getPath)))
    }
  }

  test("interleaved ManagedDataset writers: every commit lands exactly once, versions contiguous") {
    withTempDir { dir =>
      val url = s"$dir/t"
      val ds = new ManagedDataset(url, Seq.empty)
      ds.write(Seq((0L, "seed")).toDF("k", "s"))
      val writers = (1 to 3).map { w =>
        new Thread(() => {
          (0 until 4).foreach { i =>
            ds.append(Seq((w * 100L + i, s"w$w-$i")).toDF("k", "s"))
          }
        })
      }
      writers.foreach(_.start())
      writers.foreach(_.join())
      // 1 seed + 12 appends, first-writer-wins retries: no commit
      // lost, no version skipped, no row clobbered
      assert(ds.versions() == (0L to 12L))
      val rows = ds.scan().get.collect().map(_.getLong(0)).toSet
      assert(rows.size == 13)
      assert((1 to 3).forall(w =>
        (0 until 4).forall(i => rows.contains(w * 100L + i))))
      // crash leftovers: orphaned publish and checkpoint temps never
      // surface as versions, and the age-guarded log cleanup leaves
      // YOUNG temps (a live writer's window) alone
      val log = Paths.get(url, "_delta_log")
      val temps = Seq(s"_tmp-${java.util.UUID.randomUUID}.json",
        s".tmp-cp-${java.util.UUID.randomUUID}.parquet").map(log.resolve)
      temps.foreach(Files.write(_, "orphan".getBytes("UTF-8")))
      assert(ds.versions() == (0L to 12L))
      DeltaWriter.cleanupLog(url, DeltaWriter.TmpRetentionMs)
      assert(temps.forall(Files.exists(_)), "a young temp may be a live writer's")
      temps.foreach(Files.setLastModifiedTime(_,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis - 2 * DeltaWriter.TmpRetentionMs)))
      DeltaWriter.cleanupLog(url, DeltaWriter.TmpRetentionMs)
      assert(temps.forall(!Files.exists(_)), "an hour-old temp is orphaned junk")
      assert(ds.versions() == (0L to 12L))
      assert(ds.scan().get.count() == 13L)
    }
  }
}
