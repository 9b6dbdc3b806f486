package graft
object Bench {
  /** One query's record: wall seconds, success, and the Janino
    * compiles it started with their time in ms. */
  private final case class Run(name: String, secs: Double, ok: Boolean,
                               compiles: Long, compileMs: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness(defaultCpus = 4)
    // Warm up the session (scheduler, codegen, parquet reader paths)
    // so the first measured query doesn't absorb one-time JVM costs.
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val compileTime = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val results = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, fn), idx) =>
      val compiles0 = compileTime.getCount
      val t0 = System.nanoTime()
      // A failed query must not masquerade as a fast one: keep its
      // time-to-fail but record the name under "errors".
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // Janino compiles the query started, and their time: the
      // histogram keeps no running sum, so the time is the count
      // times the mean of its (recent-weighted) sample.
      val compiles = compileTime.getCount - compiles0
      val compileMs = compiles * compileTime.getSnapshot.getMean
      GraftSession.releaseAllBlocks(spark)
      // Sweep-order memory telemetry (stderr only, never in the JSON):
      // makes block-accumulation regressions visible in the artifact.
      if ((idx + 1) % 50 == 0) {
        val storageUsed =
          spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
        val nPersistent = spark.sparkContext.getPersistentRDDs.size
        System.err.println(
          f"[bench] storage after ${idx + 1}%d queries: " +
          f"${storageUsed / 1048576.0}%.1f MiB cached, $nPersistent%d persistent RDDs")
      }
      Run(name, dt, ok, compiles, compileMs)
    }
    def fmt(v: Double): String = f"$v%.3f"
    val qs = results.map(r => s"\"" + r.name + "\":" + fmt(r.secs))
      .mkString("{", ",", "}")
    val errors = results.filterNot(_.ok).map(r => s"\"" + r.name + "\"")
      .mkString("[", ",", "]")
    val codegen = results.map(r => s"\"" + r.name + "\":{\"compiles\":" + r.compiles +
      ",\"compile_ms\":" + fmt(r.compileMs) + "}").mkString("{", ",", "}")
    val total = results.map(_.secs).sum
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"errors":$errors,"codegen":$codegen,"sf":"$sfDir"}"""
    // The driver captures only a ~2000-char tail of stdout (rounds 5
    // and 6 both recorded `parsed: null` because the 343-query map is
    // ~12 KB). Print a COMPACT line that is guaranteed to fit: total
    // + the slowest queries, adding entries while the line stays
    // under 1600 chars. The complete per-query map still goes to the
    // SPARK_GRAFT_BENCH_OUT file.
    val headline = new StringBuilder
    var used = 0
    results.sortBy(-_.secs).foreach { r =>
      val entry = s"\"" + r.name + "\":" + fmt(r.secs)
      if (used + entry.length + 1 <= 1300) {
        if (headline.nonEmpty) headline.append(',')
        headline.append(entry)
        used += entry.length + 1
      }
    }
    val compactJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":{$headline},"queries_note":"slowest subset; full map in bench_out.json","errors":$errors,"sf":"$sfDir"}"""
    // Stop Spark BEFORE emitting the JSON so no shutdown logging can
    // trail (or truncate) it, persist a file copy of the FULL map,
    // and print the compact JSON as the FINAL stdout line.
    spark.stop()
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (fullJson + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    println(compactJson)
    System.out.flush()
  }
}
