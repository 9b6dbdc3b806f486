package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Host-side path bookkeeping for Hive-partitioned datasets.
  *
  * Behavioral contract derived from the reference's path handling
  * (/root/reference/polario/hive_dataset.py:25-41 relativization,
  * :104-132 partition path encode/decode, :51-70 fragment naming);
  * implementation is original Scala.
  */
object PathUtils {

  /** Make `location` relative to `baseLocation`, stripping
    * `possiblePrefix` (a scheme prefix like "s3://", or "") from both.
    *
    * Semantics per reference hive_dataset.py:25-41: strip the prefix
    * if present; if the base is relative and appears inside the
    * location, cut everything before it; strip leading slashes; then
    * strip the scheme-less base path segment.
    */
  def toRelativeLocationFrom(possiblePrefix: String, baseLocation: String, location: String): String = {
    var rel = if (location.startsWith(possiblePrefix) && possiblePrefix.nonEmpty)
      location.substring(possiblePrefix.length)
    else location

    if (!baseLocation.startsWith("/") && rel.contains(baseLocation))
      rel = rel.substring(rel.indexOf(baseLocation))

    rel = rel.dropWhile(_ == '/')
    val schemelessBase = baseLocation.drop(possiblePrefix.length).dropWhile(_ == '/')
    if (rel.startsWith(schemelessBase) && schemelessBase.nonEmpty)
      rel = rel.drop(schemelessBase.length + 1)
    rel
  }

  /** Encode ordered partition values as a relative path `k1=v1/k2=v2`.
    * (reference hive_dataset.py:130-132) */
  def partitionPath(values: Seq[(String, String)]): String =
    values.map { case (k, v) => s"$k=$v" }.mkString("/")

  /** Decode a relative partition path into ordered (key, value) pairs.
    * Throws IllegalArgumentException when a segment has no '='.
    * (reference hive_dataset.py:113-128) */
  def parsePartitionPath(relativePath: String): ListMap[String, String] = {
    val segments = relativePath.split("/").toSeq
    require(
      segments.forall(_.contains("=")),
      s"One or more partition path elements is missing an equal sign while parsing '$relativePath'")
    ListMap(segments.map { s =>
      val Array(k, v) = s.split("=", 2)
      k -> v
    }: _*)
  }

  /** First fragment file name in a partition: zero-padded index so
    * fragments order lexically (reference hive_dataset.py:51-62). */
  def firstFragmentName(): String = fragmentName(0)

  /** Successor fragment name: parse the index prefix, increment
    * (reference hive_dataset.py:64-70). */
  def nextFragmentName(current: String): String = {
    val idx = current.split("/").last.split("_").head.toInt
    fragmentName(idx + 1)
  }

  def fragmentName(idx: Int): String =
    f"$idx%06d_${java.util.UUID.randomUUID().toString.replace("-", "")}.parquet"

  /** Fragment index encoded in a fragment file name. */
  def fragmentIndex(name: String): Int =
    name.split("/").last.split("_").head.toInt

  private val FragmentPattern = """\d{6}_[0-9a-f]{32}\.parquet""".r

  /** Whether `name` is a reference-style fragment file name
    * (zero-padded index, uuid body — hive_dataset.py:51-62). */
  def isFragmentName(name: String): Boolean =
    FragmentPattern.matches(name.split("/").last)

  /** Whether a path segment is one Spark's file listing skips: `.`-
    * prefixed, or `_`-prefixed without an `=` (`_SUCCESS`, `.crc`
    * files, staging directories — not a `_k=v` partition). */
  private def isHidden(segment: String): Boolean =
    segment.startsWith("_") && !segment.contains("=") || segment.startsWith(".")

  /** Parquet files under `dir` (one recursive listing), each with its
    * directory segments below `dir`, sorted by path — the files and
    * order Spark's schema inference would read. Hidden segments are
    * skipped as Spark's listing skips them. Empty when `dir` is absent. */
  def visibleParquet(fs: FileSystem, dir: Path): Seq[(Seq[String], FileStatus)] = {
    val base = fs.makeQualified(dir).toUri.getPath.stripSuffix("/") + "/"
    val out = ArrayBuffer.empty[(Seq[String], FileStatus)]
    try {
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val f = it.next()
        val segments = f.getPath.toUri.getPath.stripPrefix(base).split("/").toSeq
        if (f.getPath.getName.endsWith(".parquet") && !segments.exists(isHidden))
          out += segments.init -> f
      }
    } catch { case _: java.io.FileNotFoundException => }
    out.sortBy(_._2.getPath.toString).toSeq
  }

  /** Parquet files a Spark write left under the private directory
    * `staging`, grouped by partition: the ordered `(column, value)`
    * pairs (empty when `partitionColumns` is), then the partition's
    * files sorted by name (Spark part-file names encode task order).
    * Groups come in lexical path order. One recursive listing.
    *
    * The values are read off the directory names Spark wrote, so they
    * are the ones the write saw, however often the input would have
    * been evaluated. Every group is checked before any is returned:
    * null, empty-string and literal `__HIVE_DEFAULT_PARTITION__`
    * values all land in Spark's default-partition directory (which
    * reads back as null), and values with characters Spark
    * path-escapes land in a directory whose name is not the raw
    * `k=v` path — both outside the `k=v` layout, so both fail. */
  def stagedPartitions(fs: FileSystem, staging: Path, partitionColumns: Seq[String],
                       who: String): Seq[(Seq[(String, String)], Seq[FileStatus])] = {
    visibleParquet(fs, staging).groupBy(_._1).toSeq.sortBy(_._1.mkString("/")).map { case (dirs, group) =>
      val kvs = partitionColumns.zip(dirs).map { case (c, segment) =>
        val v = segment.substring(segment.indexOf('=') + 1)
        require(v != ExternalCatalogUtils.DEFAULT_PARTITION_NAME,
          s"${who}partition column '$c' contains null values, empty-string values or the literal " +
            s"value ${ExternalCatalogUtils.DEFAULT_PARTITION_NAME} (Spark writes all three to " +
            "that directory and reads it back as null, outside the k=v layout)")
        require(ExternalCatalogUtils.escapePathName(v) == v,
          s"${who}partition column '$c' value '${ExternalCatalogUtils.unescapePathName(v)}' " +
            "contains characters Spark path-escapes; only path-literal partition values are supported")
        c -> v
      }
      kvs -> group.map(_._2).sortBy(_.getPath.getName)
    }
  }
}

/** `Option`-unwrap helper matching the reference's `unwrap`
  * (/root/reference/polario/__init__.py:12-26): fail loudly instead of
  * propagating emptiness. */
object Unwrap {
  def unwrap[T](opt: Option[T], msg: => String = "unwrap of empty Option"): T =
    opt.getOrElse(throw new IllegalStateException(msg))
}
