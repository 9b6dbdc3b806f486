package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only job-level profiler: run the named queries once each and
  * print every Spark job the run triggered — start offset, duration,
  * stage count, task count, and the call site — so build-time actions
  * (localCheckpoints, Delta log writes, convergence checksums) are
  * attributable line by line. Not part of the driver contract. */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness(defaultCpus = 32)
    spark.read.parquet(s"$sfDir/region.parquet").count()

    case class Job(id: Int, t0: Long, desc: String, var site: String,
                   var tEnd: Long = 0L, var nStages: Int = 0, var nTasks: Int = 0)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs(js.jobId) = Job(js.jobId, js.time, desc, site)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(je.jobId).foreach(_.tEnd = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = jobs.synchronized {
        jobs.values.lastOption.foreach { j =>
          j.nStages += 1; j.nTasks += sc.stageInfo.numTasks
          if (j.site.isEmpty) j.site = sc.stageInfo.name.take(70)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val qs = SparkEntry.queries
    args.foreach { name =>
      (1 to 2).foreach { pass =>
        jobs.synchronized(jobs.clear())
        val t0 = System.nanoTime()
        val df = qs(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        Thread.sleep(300) // let the listener bus drain
        println(f"== $name pass$pass total ${(t2 - t0) / 1e9}%.2f s " +
          f"(build ${(t1 - t0) / 1e9}%.2f, exec ${(t2 - t1) / 1e9}%.2f), " +
          s"${jobs.size} jobs")
        if (pass == 2) {
          val base = jobs.values.headOption.map(_.t0).getOrElse(0L)
          jobs.values.foreach { j =>
            println(f"  job ${j.id}%3d +${(j.t0 - base) / 1000.0}%7.2fs " +
              f"${(j.tEnd - j.t0) / 1000.0}%6.2fs stages=${j.nStages}%2d " +
              f"tasks=${j.nTasks}%4d  ${j.site}  ${j.desc.take(60)}")
          }
        }
        GraftSession.releaseAllBlocks(spark)
      }
    }
    spark.stop()
  }
}
