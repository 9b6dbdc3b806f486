package graft

/** Dev-only micro-bench: time the named queries 3× each — for chasing
  * per-query regressions without a full Bench sweep. Not part of the
  * driver contract. Defaults to the gate config (sf0.1, local[4],
  * shuffle=4); honors SPARK_GRAFT_CPUS to reproduce the local[32]
  * denominator. Prints plan-construction time (DataFrame build:
  * analysis + operator-side actions like localCheckpoint) separately
  * from the count() execution, so per-run JIT/codegen warmup and
  * driver-side costs are attributable. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness(defaultCpus = 4)
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val qs = SparkEntry.queries
    args.foreach { name =>
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val df = qs(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        GraftSession.releaseAllBlocks(spark)
        println(f"$name run$i total ${(t2 - t0) / 1e9}%.2f s " +
          f"(build ${(t1 - t0) / 1e9}%.2f, exec ${(t2 - t1) / 1e9}%.2f)")
      }
    }
    spark.stop()
  }
}
