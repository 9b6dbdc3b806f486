package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness(defaultCpus = 4)
    // Warm up the session (scheduler, codegen, parquet reader paths)
    // so the first measured query doesn't absorb one-time JVM costs.
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, fn), idx) =>
      val t0 = System.nanoTime()
      // A failed query must not masquerade as a fast one: keep its
      // time-to-fail but record the name under "errors".
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
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
      (name, dt, ok)
    }
    def fmt(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"errors":$errors,"sf":"$sfDir"}"""
    // The driver captures only a ~2000-char tail of stdout (rounds 5
    // and 6 both recorded `parsed: null` because the 343-query map is
    // ~12 KB). Print a COMPACT line that is guaranteed to fit: total
    // + the slowest queries, adding entries while the line stays
    // under 1600 chars. The complete per-query map still goes to the
    // SPARK_GRAFT_BENCH_OUT file.
    val headline = new StringBuilder
    var used = 0
    results.sortBy(-_._2).foreach { case (k, v, _) =>
      val entry = s"\"" + k + "\":" + fmt(v)
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
