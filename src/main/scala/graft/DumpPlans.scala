package graft
import java.nio.file.{Files, Paths}

/** Dev-only plan dumper: writes `.explain("formatted")` of the named
  * queries to files — the before/after plan evidence the optimization
  * rounds commit under `plans/`. Not part of the driver contract.
  *
  * Usage: runMain graft.DumpPlans <outDir> <suffix> <q1> [<q2> ...]
  * writes `<outDir>/<name>_<suffix>.txt` per query. Env: same
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS contract as Bench.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: DumpPlans <outDir> <suffix> <q>...")
    val (outDir, suffix) = (args(0), args(1))
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness(defaultCpus = 32)
    new java.io.File(outDir).mkdirs()
    val qs = SparkEntry.queries
    names.foreach { name =>
      val plan =
        try qs(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      // iterative operators may have checkpointed during plan build
      GraftSession.releaseAllBlocks(spark)
      println(s"[plans] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
