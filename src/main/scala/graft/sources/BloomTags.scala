package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Per-file equality blooms carried in Delta `add.tags`: on a table
  * whose configuration names columns under [[ColumnsKey]] (written by
  * the creating commit), every file [[DeltaWriter.write]] lands gets a
  * tag `graft.bloom.<column>` per column — a 1024-bit bitmap (256 hex
  * chars) over three portable hashes of each non-null value's
  * `CAST(value AS STRING)`. [[DeltaReader.prunedSnapshot]] drops a
  * file whose bloom excludes an equality range's value: the
  * point-lookup complement of min/max windows, which cannot skip on
  * an unclustered column. A file without the tag is kept. */
private[sources] object BloomTags {
  val ColumnsKey = "graft.bloom.columns"
  val TagPrefix = "graft.bloom."
  val Bits = 1024
  val Seeds: Seq[(Long, Long)] = graft.functions.TextHash.Seeds.slice(1, 4)

  def columnsOf(conf: Map[String, String]): Seq[String] =
    conf.get(ColumnsKey).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** The portable rolling hash, bitwise-equal to TextHash's SQL
    * renderings for BMP text. */
  def portableHash(s: String): Long = {
    val P = graft.functions.TextHash.P
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 31 + s.charAt(i).toInt) % P; i += 1 }
    h
  }

  def positions(value: String): Seq[Int] = {
    val P = graft.functions.TextHash.P
    val h = portableHash(value)
    Seeds.map { case (a, b) => (((a * h + b) % P) % Bits).toInt }
  }

  def bitmapHex(positions: Iterable[Long]): String = {
    val bytes = Array.fill[Byte](Bits / 8)(0)
    positions.foreach { p =>
      val i = p.toInt
      bytes(i / 8) = (bytes(i / 8) | (1 << (i % 8))).toByte
    }
    bytes.map(b => f"${b & 0xff}%02x").mkString
  }

  def bitSet(hex: String, pos: Int): Boolean = {
    val byte = Integer.parseInt(hex.substring(2 * (pos / 8), 2 * (pos / 8) + 2), 16)
    (byte & (1 << (pos % 8))) != 0
  }

  /** False only when `hex` is a well-formed bitmap missing one of the
    * canonical `probe`'s bits. */
  def mayContain(hex: String, probe: String): Boolean =
    hex.length != Bits / 4 || positions(probe).forall(bitSet(hex, _))

  /** `CAST(TRY_CAST(value AS dt) AS STRING)` — the rendering the
    * blooms hash — evaluated on the driver with Catalyst's `Cast` in
    * the session time zone, no Spark job. The raw spelling of an equal
    * value ("20000" for a double stored as "20000.0") would miss its
    * bits. A value that does not parse as `dt` raises. */
  def canonical(dt: DataType, value: String)(implicit spark: SparkSession): String = {
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val parsed = Cast(Literal(value), dt, tz, EvalMode.TRY).eval()
    if (parsed == null)
      throw new IllegalArgumentException(
        s"equality probe value '$value' does not parse as ${dt.simpleString}")
    Cast(Literal(parsed, dt), StringType, tz).eval().toString
  }

  /** The bloom tags of landed `files` for `columns` (logical name,
    * parquet name, type), keyed by `Path.toUri.toString`: ONE job, a
    * plain RDD pass over the files that ORs each row's bit positions
    * into a bitmap per file and column within each partition; the
    * driver ORs the partitions' bitmaps. No aggregate, so no shuffle
    * stage for adaptive execution to run as a job of its own. */
  def tagsFor(files: Seq[Path], columns: Seq[(String, String, DataType)])
             (implicit spark: SparkSession): Map[String, Map[String, String]] = {
    if (files.isEmpty || columns.isEmpty) return Map.empty
    // the HOF rendering is bitwise-equal to the native one
    val native = spark.catalog.functionExists("graft_rolling_hash")
    val bits = for ((_, phys, _) <- columns; (a, b) <- Seeds) yield {
      val v = s"CAST(`$phys` AS STRING)"
      val h = if (native) graft.functions.TextHash.spark.rollingHash(v)
              else graft.functions.TextHash.spark.rollingHashHof(v)
      expr(s"(($a * ($h) + $b) % ${graft.functions.TextHash.P}L) % ${Bits}L")
    }
    val rows = spark.read
      .schema(StructType(columns.map { case (_, p, dt) => StructField(p, dt) }))
      .parquet(files.map(_.toString): _*)
      .select(col("_metadata.file_path") +: bits: _*)
      .queryExecution.toRdd
    val perCol = Seeds.size
    rows.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap.empty[(String, Int), java.util.BitSet]
      it.foreach { r =>
        val file = r.getUTF8String(0).toString
        (1 until r.numFields).foreach { i =>
          val set = acc.getOrElseUpdate((file, (i - 1) / perCol), new java.util.BitSet(Bits))
          // a null value hashes to null and sets no bit
          if (!r.isNullAt(i)) set.set(r.getLong(i).toInt)
        }
      }
      acc.iterator
    }.collect().groupMapReduce(_._1)(_._2) { (a, b) => a.or(b); a }
      .groupMap(_._1._1) { case ((_, c), set) =>
        TagPrefix + columns(c)._1 -> bitmapHex(set.stream().toArray.map(_.toLong)) }
      .map { case (file, tags) => file -> tags.toMap }
  }
}
