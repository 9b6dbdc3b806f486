package layerbench

import java.io.File

import scala.util.Random

import graft.sources.{DeltaDataset, DeltaReader, DeltaWriter, HiveDataset, ManagedDataset}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One row of the lineitem-like table. */
final case class Line(orderkey: Long, partkey: Long, quantity: Long,
                      priceCents: Long, flag: String, month: String) {
  def toRow: Row = Row(orderkey, partkey, quantity, priceCents, flag, month)
}

object LakeIo {
  /** Partition key values; row shares follow a Zipf law (exponent
    * `MonthSkew`), so one partition is several times the mean. */
  val Months: Seq[String] = (1 to 4).map(m => f"1996-$m%02d")
  val MonthSkew = 1.3
  val BaseRows = 60000
  /** Delta appends per iteration. The log checkpoints every
    * DefaultCheckpointInterval commits, so versions 0-10 write one
    * checkpoint and the merge and delete that follow commit on top of
    * it. More appends would not fit the run: every commit after a
    * checkpoint costs several times one before it. */
  val DeltaCommits = DeltaWriter.DefaultCheckpointInterval + 1
  val TimeTravelVersion = 5L
  val ManagedBatches = 2
  /** Logical bytes of one row as the user hands it over: five longs
    * plus the two strings' UTF-8 bytes. */
  def userBytes(l: Line): Long = 40L + l.flag.length + l.month.length

  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_quantity", LongType), StructField("l_price_cents", LongType),
    StructField("l_flag", StringType), StructField("l_month", StringType)))

  def prepare(spark: SparkSession, seed: Long, dir: File): LakeIo = {
    val rnd = new Random(seed)
    val weights = Months.indices.map(k => 1.0 / math.pow(k + 1, MonthSkew))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    def line(key: Long): Line = {
      val u = rnd.nextDouble()
      val month = Months(cdf.indexWhere(_ >= u) max 0)
      val part = 1L + rnd.nextInt(20000)
      val qty = 1L + rnd.nextInt(50)
      val flag = Seq("A", "N", "R")(rnd.nextInt(3))
      Line(key, part, qty, qty * (100L + part % 900L), flag, month)
    }
    val n = BaseRows
    val base = (0L until n).map(line).toArray
    val extra = (n.toLong until n + n / 10).map(line).toArray
    val mergeUpdates = base.filter(_.orderkey % 50 == 7)
      .map(l => l.copy(priceCents = l.priceCents + 1))
    val mergeInserts = (n + n / 10L until n + n / 10 + n / 100).map(line).toArray
    val managed = (0 until ManagedBatches).map { b =>
      val lo = 10L * n + b.toLong * (n / 20)
      (lo until lo + n / 20).map(line).toArray
    }

    // All inputs go out in one partitioned write; each part is read
    // back by its own directory.
    val chunk = (n + DeltaCommits - 1) / DeltaCommits
    val chunks = base.grouped(chunk).toSeq
    require(chunks.size == DeltaCommits, s"need $DeltaCommits Delta chunks")
    val parts: Seq[(String, Array[Line])] =
      Seq("base" -> base, "extra" -> extra, "merge" -> (mergeUpdates ++ mergeInserts)) ++
        chunks.zipWithIndex.map { case (c, j) => f"chunk$j%02d" -> c } ++
        managed.zipWithIndex.map { case (b, j) => s"batch$j" -> b }
    val rows = parts.flatMap { case (p, ls) => ls.map(l => Row.fromSeq(l.toRow.toSeq :+ p)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
        schema.add(StructField("part", StringType)))
      .write.partitionBy("part").parquet(dir.getPath)
    def path(p: String): String = new File(dir, s"part=$p").getPath
    val basePath = path("base")
    val extraPath = path("extra")
    val chunkPaths = chunks.indices.map(j => path(f"chunk$j%02d"))
    val mergePath = path("merge")
    val managedPaths = managed.indices.map(j => path(s"batch$j"))

    val perMonth = base.groupBy(_.month).map { case (m, ls) => m -> ls.length }
    val inputs = Map[String, Any](
      "rows" -> n, "append_rows" -> extra.length, "partitions" -> Months.size,
      "partition_rows" -> Months.map(m => m -> perMonth.getOrElse(m, 0)).toMap,
      "key_skew_max_over_mean" -> perMonth.values.max.toDouble / (n.toDouble / Months.size),
      "delta_commits" -> DeltaCommits, "delta_rows_per_commit" -> chunk,
      "merge_rows" -> (mergeUpdates.length + mergeInserts.length),
      "managed_batches" -> ManagedBatches, "managed_rows_per_batch" -> managed.head.length,
      "user_bytes" -> base.map(userBytes).sum,
      "input_file_bytes" -> Storage.sizes(dir).values.sum)
    new LakeIo(spark, base, extra, chunks, mergeUpdates ++ mergeInserts, managed,
      basePath, extraPath, chunkPaths, mergePath, managedPaths, inputs)
  }
}

final class LakeIo(spark: SparkSession, base: Array[Line], extra: Array[Line],
                   chunks: Seq[Array[Line]], mergeRows: Array[Line],
                   managed: Seq[Array[Line]], basePath: String, extraPath: String,
                   chunkPaths: Seq[String], mergePath: String,
                   managedPaths: Seq[String], val inputs: Map[String, Any])
  extends Workload {
  import LakeIo._

  private implicit val session: SparkSession = spark

  def inputRows: Long = base.length.toLong + extra.length

  private def read(p: String): DataFrame = spark.read.parquet(p)

  /** (row count, sum of orderkeys, sum of prices) of a frame. */
  private def sums(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("l_orderkey"), lit(0L)),
      coalesce(sum("l_price_cents"), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
  private def sums(ls: Iterable[Line]): (Long, Long, Long) =
    (ls.size.toLong, ls.iterator.map(_.orderkey).sum, ls.iterator.map(_.priceCents).sum)

  def iteration(ctx: Ctx): Unit = {
    val root = new File(ctx.workDir, s"lake/it${ctx.iter}")
    ctx.aside(Storage.deleteTree(root))
    var listing = Map.empty[String, Long]
    var writtenBytes = 0L
    var userBytes = 0L
    var hiveBytes = 0L
    var hiveFiles = 0L
    /** Bytes written to storage since the last commit, and new data
      * files among them. */
    def account(rows: Iterable[Line]): (Long, Long) = ctx.aside {
      val now = Storage.sizes(root)
      val w = Storage.written(listing, now)
      val files = now.keys.count(p => p.endsWith(".parquet") && !listing.contains(p))
      listing = now
      writtenBytes += w
      userBytes += rows.iterator.map(LakeIo.userBytes).sum
      (w, files.toLong)
    }
    def accountHive(rows: Iterable[Line]): Unit = {
      val (w, f) = account(rows)
      hiveBytes += w
      hiveFiles += f
    }

    // --- HiveDataset: polario's own surface -------------------------
    val hiveUrl = new File(root, "hive").getPath
    val hive = HiveDataset(hiveUrl, Seq("l_month"))(spark)
    var hiveRows: Seq[Line] = base.toSeq
    def checkHive(what: String): Unit =
      ctx.check(s"hive rows and key sums after $what") { sums(read(hiveUrl)) == sums(hiveRows) }

    ctx.call("sources.hive.write", "commit")(hive.write(read(basePath)))
    accountHive(base)
    checkHive("write")
    ctx.call("sources.hive.append", "commit")(hive.append(read(extraPath)))
    accountHive(extra)
    hiveRows = hiveRows ++ extra
    checkHive("append")

    val byMonth = hiveRows.groupBy(_.month)
    val biggest = Months.maxBy(m => byMonth.get(m).map(_.size).getOrElse(0))
    val part = ctx.call("sources.hive.read_partition", "scan") {
      val df = hive.readPartition(Map("l_month" -> biggest)).get
      if (ctx.traced) ctx.aside(ctx.plan(df))
      sums(df)
    }
    ctx.check("hive readPartition rows and sums")(part == sums(byMonth(biggest)))

    val scanned = ctx.call("sources.hive.scan", "scan") {
      val df = hive.scan().get.groupBy("l_month")
        .agg(count(lit(1)).as("n"), sum("l_price_cents").as("p"))
      if (ctx.traced) ctx.aside(ctx.plan(df))
      df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val scanCheck = "hive scan aggregate per partition"
    ctx.check(scanCheck) {
      ctx.tamper(scanCheck, scanned)(m => m - m.keys.head) ==
        byMonth.map { case (m, ls) => m -> (ls.size.toLong, ls.map(_.priceCents).sum) }
    }

    val smallest = Months.filter(byMonth.contains).minBy(m => byMonth(m).size)
    ctx.call("sources.hive.delete_partition", "commit")(
      hive.deletePartition(Map("l_month" -> smallest)))
    accountHive(Nil)
    hiveRows = hiveRows.filterNot(_.month == smallest)
    ctx.check("deleted hive partition is gone") {
      !hive.partitionPaths().exists(_.contains(smallest))
    }
    checkHive("deletePartition")

    ctx.call("sources.hive.compact", "commit")(hive.compact())
    accountHive(Nil)
    checkHive("compact")
    if (ctx.traced) ctx.aside {
      ctx.add("sources.hive.files_written", hiveFiles)
      ctx.add("sources.hive.bytes_written", hiveBytes)
    }

    // --- DeltaDataset on a fresh table ------------------------------
    val deltaUrl = new File(root, "delta").getPath
    val delta = new DeltaDataset(deltaUrl)(spark)
    var live = scala.collection.mutable.LinkedHashMap.empty[Long, Line]
    chunks.indices.foreach { j =>
      val v = ctx.call("sources.delta.commit", "commit")(delta.append(read(chunkPaths(j))))
      account(chunks(j))
      chunks(j).foreach(l => live(l.orderkey) = l)
      ctx.check(s"delta append $j commits version $j")(v == j.toLong)
    }
    ctx.check("delta rows and key sums after the appends") {
      sums(DeltaReader.scan(deltaUrl).get) == sums(live.values)
    }

    ctx.call("sources.delta.merge", "commit")(
      delta.merge(read(mergePath), Seq("l_orderkey")))
    account(mergeRows)
    mergeRows.foreach(l => live(l.orderkey) = l)
    ctx.check("delta rows and key sums after merge") {
      sums(DeltaReader.scan(deltaUrl).get) == sums(live.values)
    }

    ctx.call("sources.delta.commit", "commit")(
      delta.delete(col("l_flag") === "R" && col("l_quantity") > 40))
    account(Nil)
    live = live.filterNot { case (_, l) => l.flag == "R" && l.quantity > 40 }
    ctx.check("delta rows and key sums after delete") {
      sums(DeltaReader.scan(deltaUrl).get) == sums(live.values)
    }

    val (lo, hi) = (base.length / 3L, base.length / 3L + base.length / 20L)
    val ranges = Seq(("l_orderkey", lo.toString, hi.toString))
    val pruned = ctx.call("sources.delta.scan_pruned", "scan") {
      val df = delta.scanPruned(ranges).get
      if (ctx.traced) ctx.aside(ctx.plan(df))
      sums(df)
    }
    ctx.check("delta pruned scan rows and sums") {
      pruned == sums(live.values.filter(l => l.orderkey >= lo && l.orderkey <= hi))
    }

    val snap = ctx.call("sources.delta.snapshot", "meta")(DeltaReader.snapshot(deltaUrl).get)
    ctx.check("delta snapshot replays to the last version") {
      snap.version == chunks.size + 1L
    }

    val travelled = ctx.call("sources.delta.time_travel", "scan") {
      DeltaReader.scan(deltaUrl, Some(TimeTravelVersion)).get
        .select("l_orderkey", "l_price_cents").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    ctx.check(s"delta rows at version $TimeTravelVersion are exact") {
      travelled == chunks.take(TimeTravelVersion.toInt + 1).flatten
        .map(l => (l.orderkey, l.priceCents)).sorted
    }
    if (ctx.traced) ctx.aside {
      val total = snap.files.size
      val read = DeltaReader.prunedSnapshot(deltaUrl, ranges).get.files.size
      ctx.add("sources.delta.files_read", read)
      ctx.add("sources.delta.files_pruned", total - read)
      val log = Storage.sizes(new File(deltaUrl, "_delta_log"))
      ctx.add("sources.delta.log_bytes", log.values.sum)
      ctx.add("sources.delta.checkpoints", log.keys.count(_.contains(".checkpoint.")))
    }

    // --- ManagedDataset: transactional batches ----------------------
    val managedUrl = new File(root, "managed").getPath
    val md = ManagedDataset(managedUrl, Nil, Seq("l_partkey"))(spark)
    managed.indices.foreach { b =>
      val ok = ctx.call("sources.managed.append_batch", "commit")(
        md.appendBatch(read(managedPaths(b)), "layerbench", b.toLong))
      account(managed(b))
      ctx.check(s"managed batch $b commits")(ok)
    }
    val again = ctx.call("sources.managed.append_batch", "commit")(
      md.appendBatch(read(managedPaths.last), "layerbench", managed.size - 1L))
    account(Nil)
    ctx.check("a redelivered managed batch is a no-op")(!again)
    val probe = managed.head.head.partkey
    val eq = ctx.call("sources.managed.scan_pruned", "scan") {
      val df = md.scanPrunedEquality("l_partkey", probe.toString).get
      if (ctx.traced) ctx.aside(ctx.plan(df))
      sums(df)
    }
    ctx.check("managed equality scan rows and sums") {
      eq == sums(managed.flatten.filter(_.partkey == probe))
    }
    if (ctx.traced) ctx.aside {
      val read = md.prunedFileCountEquality("l_partkey", probe.toString).get
      val total = Storage.sizes(new File(managedUrl)).keys
        .count(p => p.endsWith(".parquet") && !p.contains("_graft_log"))
      ctx.add("sources.managed.files_read", read)
      ctx.add("sources.managed.files_pruned", total - read)
    }

    ctx.aside {
      val liveRows = hiveRows ++ live.values ++ managed.flatten
      ctx.extra("write_amp") = writtenBytes.toDouble / userBytes
      ctx.extra("space_amp") =
        Storage.sizes(root).values.sum.toDouble / liveRows.iterator.map(LakeIo.userBytes).sum
      Storage.deleteTree(root)
    }
  }
}
