package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Spark's codegen cache must hold every class one curation pass
  * generates, so a second identical pass compiles nothing: at Spark's
  * default of 100 entries a pass of 200–250 classes evicts its own
  * classes before the next pass can reuse them. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The `SparkEntry.entry` curation chain plus 120 small
    * project-filter-aggregate queries, each with its own constants
    * (hence its own generated classes). */
  private def pass(): Unit = {
    SparkEntry.entry(spark).collect()
    (1 to 120).foreach { i =>
      spark.range(64).selectExpr(s"id * ${7919 + i} AS v")
        .where(col("v") % (i + 3) === 0).agg(sum("v")).collect()
    }
  }

  test("a second pass over a chain of over 100 generated classes compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // Adaptive re-planning can renumber a whole-stage codegen stage
    // between two runs of one query, which is a new class under any
    // cache size; with it off each pass generates the same classes.
    val adaptive = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(adaptive)
    spark.conf.set(adaptive, "false")
    try {
      val start = compiles
      pass()
      val first = compiles - start
      assert(first > 100, s"the chain must generate over 100 classes, compiled $first")
      val again = compiles
      pass()
      assert(compiles == again,
        s"the second pass recompiled ${compiles - again} classes (first pass: $first)")
    } finally spark.conf.set(adaptive, before)
  }
}
