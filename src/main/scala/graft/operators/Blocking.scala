package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared hot-block guard for equality-blocked pair generation.
  *
  * A block larger than `maxBlockSize` is split into
  * `ceil(size / maxBlockSize)` deterministic sub-blocks (xxhash64 of
  * the id), bounding per-block pair work at ~maxBlockSize²/2 instead
  * of letting one dominant block go quadratic in the corpus. Blocks at
  * or under the cap get a single sub-block (exact results). Pairs
  * straddling sub-blocks of an oversize block are skipped — the
  * standard bounded-blocking recall tradeoff.
  */
private[operators] object Blocking {

  /** Add sub-block column `out` for rows blocked by `blockKeys`.
    * The window count shuffles on the block keys.
    *
    * `salt`: multi-band callers pass the band index (a literal, or the
    * band column of an exploded `(band, key)` frame — both hash to the
    * same `xxhash64(id, band)`) so an oversize bucket splits
    * DIFFERENTLY per band — unsalted, the split is a fixed function of
    * the id and every band drops the same cross-sub-block pairs,
    * collapsing "any band collision" recall to a single band above
    * the cap. */
  def withSubBlock(df: DataFrame, blockKeys: Seq[Column], idCol: String,
                   maxBlockSize: Int, out: String,
                   salt: Option[Column] = None): DataFrame = {
    require(maxBlockSize > 0, "maxBlockSize must be positive")
    val reserved = Set("__bn", out)
    val collisions = df.columns.toSet.intersect(reserved)
    require(collisions.isEmpty,
      s"withSubBlock reserves column names ${reserved.mkString(", ")}; " +
        s"rename the colliding input columns: ${collisions.mkString(", ")}")
    val h = salt.map(b => xxhash64(col(idCol), b)).getOrElse(xxhash64(col(idCol)))
    df.withColumn("__bn", count(lit(1)).over(Window.partitionBy(blockKeys: _*)))
      .withColumn(out,
        pmod(h, expr(s"(__bn + ${maxBlockSize - 1}) div $maxBlockSize")))
      .drop("__bn")
  }
}
