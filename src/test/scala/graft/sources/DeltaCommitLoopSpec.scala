package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.udf
import java.nio.file.{Files, Paths, StandardOpenOption}

/** The one first-writer-wins loop every [[DeltaWriter]] verb commits
  * through, raced deterministically: the competing commit is published
  * from inside the attempt (or, for `delete`, from inside its scan), so
  * the interleaving is fixed rather than left to thread timing. */
class DeltaCommitLoopSpec extends SparkSpec {
  import spark.implicits._

  implicit private val s: org.apache.spark.sql.SparkSession = spark

  private def txnLine(app: String): String =
    s"""{"txn":{"appId":"$app","version":1,"lastUpdated":0}}"""

  test("a commit raced inside its first attempt retries against the fresh head") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table)
      ds.write(Seq(1L).toDF("v"))                                   // v0
      val heads = scala.collection.mutable.Buffer.empty[Long]
      val v = DeltaWriter.commitLoop(new DeltaWriter.TableRoot(table), "probe", "WRITE") { head =>
        heads += head.get.version
        if (heads.size == 1) ds.append(Seq(2L).toDF("v"))          // wins v1
        Some(Seq(txnLine("probe")))
      }
      assert(v == 2L)
      assert(heads == Seq(0L, 1L))
      val snap = DeltaReader.snapshot(table).get
      assert(snap.version == 2L && snap.txns == Map("probe" -> 1L))
      assertSameData(ds.scan().get, Seq(1L, 2L).toDF("v"))
      // a closure with nothing to commit publishes nothing
      assert(DeltaWriter.commitLoop(new DeltaWriter.TableRoot(table), "probe", "WRITE")(_ => None) == 2L)
      assert(DeltaReader.snapshot(table).get.version == 2L)
    }
  }

  test("a closure that always loses raises one lost-race error naming the verb") {
    withTempDir { dir =>
      val table = s"$dir/t"
      new DeltaDataset(table).write(Seq(1L).toDF("v"))
      var attempts = 0
      val e = intercept[IllegalStateException] {
        DeltaWriter.commitLoop(new DeltaWriter.TableRoot(table), "probe", "WRITE") { head =>
          attempts += 1
          // a competitor takes the version this attempt is about to publish
          Files.write(Paths.get(table, "_delta_log", f"${head.get.version + 1}%020d.json"),
            """{"commitInfo":{"timestamp":0,"operation":"WRITE"}}""".concat("\n")
              .getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
          Some(Seq(txnLine("probe")))
        }
      }
      assert(e.getMessage.contains("DeltaWriter.probe: lost the commit race 20 times"),
        e.getMessage)
      assert(attempts == 20)
      assert(DeltaReader.snapshot(table).get.txns.isEmpty)
    }
  }

  test("a delete whose touched file gets a new deletion vector mid-flight raises") {
    withTempDir { dir =>
      val table = s"$dir/t"
      val ds = new DeltaDataset(table, Seq("p"))
      ds.write(Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("k", "p").coalesce(1))
      val f = DeltaReader.snapshot(table).get.files.find(_.partitionValues("p") == "A").get
      val rel = f.path.substring(f.path.indexOf("p=A/"))
      val dvId = DeletionVectors.encodeUUID(java.util.UUID.randomUUID)
      val competing = Seq(
        """{"commitInfo":{"timestamp":0,"operation":"DELETE"}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        s"""{"remove":{"path":"$rel","deletionTimestamp":0,"dataChange":true}}""",
        s"""{"add":{"path":"$rel","partitionValues":{"p":"A"},"size":${f.size},""" +
          s""""modificationTime":${f.modificationTime},"dataChange":true,""" +
          s""""deletionVector":{"storageType":"u","pathOrInlineDv":"$dvId",""" +
          """"offset":1,"sizeInBytes":34,"cardinality":1}}}""").mkString("", "\n", "\n")
      val v1 = Paths.get(table, "_delta_log", f"${1L}%020d.json").toString
      DeltaCommitLoopSpec.fired.set(false)
      // the scan that computes the masks publishes the competitor once,
      // after the delete read its snapshot and before it commits
      val matches = udf { (k: Long) =>
        if (DeltaCommitLoopSpec.fired.compareAndSet(false, true))
          Files.write(Paths.get(v1), competing.getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
        k == 1L
      }.asNondeterministic()
      val e = intercept[IllegalArgumentException](ds.delete(matches($"k")))
      assert(e.getMessage.contains("DeltaWriter.delete: concurrent modification of"),
        e.getMessage)
      assert(DeltaReader.snapshot(table).get.version == 1L, "the delete must not publish")
    }
  }
}

object DeltaCommitLoopSpec {
  /** Fires the competing commit once: JVM-wide, so every task of a
    * local-mode job sees it. */
  val fired = new java.util.concurrent.atomic.AtomicBoolean()
}
