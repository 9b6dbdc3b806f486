package layerbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A workload: inputs generated from the seed in `Workloads.prepare`,
  * then one closed-loop client running `iteration` back to back. */
trait Workload {
  /** Generated input rows one iteration processes (for `rows_per_s`). */
  def inputRows: Long
  /** Properties of the generated inputs, recorded in the report. */
  def inputs: Map[String, Any]
  def iteration(ctx: Ctx): Unit
  /** The fewest iterations of a run, whatever `--seconds` says. One
    * iteration is already dozens of public calls. There is no separate
    * warm-up iteration: the JIT keeps compiling for several iterations,
    * so one would not reach a steady state, and the time it costs does
    * not fit the run budget. Every run measures the same first
    * iterations of a fresh JVM, traced or not. */
  def minIters: Int = 1
  /** Properties of the expected outputs, recorded in the report. */
  def expectedOutputs: Map[String, Any] = Map.empty
  /** Per-layer figures measured once per traced run, after the loop. */
  def afterTracedRun(ctx: Ctx): Map[String, Double] = Map.empty
}

object Workloads {
  val names = Seq("lake_io", "curation", "graph_iter")

  def prepare(name: String, spark: SparkSession, seed: Long, dir: File): Workload =
    name match {
      case "lake_io" => LakeIo.prepare(spark, seed, dir)
      case "curation" => Curation.prepare(spark, seed, dir)
      case "graph_iter" => GraphIter.prepare(spark, seed, dir)
    }
}

/** Metric names, units and layers. BENCHMARK.json lists the same names;
  * the benchmark's test checks the two agree. */
object Metrics {
  /** End-to-end metrics on the last stdout line of an untraced run.
    * Wall-clock iteration time is not among them: on a shared host it
    * doubles in busy minutes while CPU time moves far less.
    * `cpu_s_per_iter` is the program's CPU: the process's minus that
    * of the JIT compiler threads, which in a fresh JVM is most of it. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "cpu_s_per_iter" -> "s")

  /** Further end-to-end metrics, printed in the summary line. */
  val reportOnly: Seq[(String, String)] = Seq(
    "iter_s_p50" -> "s", "rows_per_s" -> "1/s", "process_cpu_s_per_iter" -> "s",
    "jit_cpu_s_per_iter" -> "s", "iter_n" -> "count", "failed_frac" -> "ratio", "held_mb" -> "MiB",
    "stall_iters" -> "count", "commit_s_p50" -> "s", "commit_s_p90" -> "s",
    "scan_s_p50" -> "s", "scan_s_p90" -> "s", "commit_n" -> "count",
    "scan_n" -> "count", "write_amp" -> "ratio",
    "space_amp" -> "ratio")

  val curationOps = Seq("drop_near_duplicates", "prefix_jaccard_pairs",
    "repetition_stats", "c4_flags", "redact_pii", "dedup_spans", "knn_join")
  val graphOps = Seq("connected_components", "page_rank",
    "personalized_page_rank", "label_propagation", "k_core")
  val nativeFunctions = Seq("graft_rolling_hash", "graft_shingles3",
    "graft_hash_array", "graft_seeded_min", "graft_dot_f32")

  private def unitOf(name: String): String = {
    val leaf = name.substring(name.lastIndexOf('.') + 1)
    if (leaf.endsWith("_s") && leaf != "rows_per_s" && leaf != "builtin_rows_per_s") "s"
    else if (leaf.endsWith("rows_per_s")) "1/s"
    else if (leaf.contains("bytes")) "B"
    else if (leaf == "held_mb") "MiB"
    else if (leaf == "cpu_wall_ratio" || leaf == "overhead_frac") "ratio"
    else "count"
  }

  /** Per-layer metrics on the last stdout line of a traced run. A
    * layer a workload does not exercise reads 0 there. */
  val perLayer: Seq[(String, String)] = (
    Seq("write_s", "append_s", "read_partition_s", "scan_s",
      "delete_partition_s", "compact_s", "files_written", "bytes_written",
      "jobs").map("sources.hive." + _) ++
    Seq("commit_s", "merge_s", "snapshot_s", "time_travel_s", "scan_pruned_s",
      "files_read", "files_pruned", "log_bytes", "checkpoints", "jobs")
      .map("sources.delta." + _) ++
    Seq("append_batch_s", "scan_pruned_s", "files_read", "files_pruned", "jobs")
      .map("sources.managed." + _) ++
    (curationOps ++ graphOps).flatMap(op =>
      Seq("build_s", "exec_s", "jobs", "shuffle_bytes", "held_mb", "exchanges")
        .map(s"operators.$op." + _)) ++
    Seq("operators.prefix_jaccard_pairs.pairs_out",
      "operators.prefix_jaccard_pairs.shuffle_records") ++
    nativeFunctions.flatMap(f =>
      Seq(s"functions.$f.rows_per_s", s"functions.$f.builtin_rows_per_s")) ++
    Seq("plans.exchanges", "plans.bnlj", "plans.interpreted_nodes") ++
    Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
      "spill_bytes", "gc_s", "executor_cpu_s", "cpu_wall_ratio").map("spark." + _) ++
    Seq("session.start_s", "trace.overhead_frac")
  ).map(n => n -> unitOf(n))
}

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, corrupt: Boolean, target: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--corrupt" => m("corrupt") = "1"; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length =>
          m(k.drop(2)) = argv(i + 1); i += 2
        case k => throw new IllegalArgumentException(s"unexpected argument $k")
      }
    }
    val w = m.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    require(Workloads.names.contains(w), s"unknown workload $w")
    Args(w, m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m.contains("corrupt"), m.getOrElse("target", "layerbench/target"))
  }
}

/** Per-iteration record. Wall and CPU exclude the `aside` work; `cpuS`
  * is the program's CPU (process minus JIT compiler threads), `jitS`
  * the JIT's, `traceS` the wall time tracing added. */
final case class IterRec(i: Int, traced: Boolean, wallS: Double, cpuS: Double,
                         jitS: Double, traceS: Double, heldMb: Double,
                         layer: Map[String, Double], extra: Map[String, Double]) {
  def ratio: Double = if (wallS > 0) (cpuS + jitS) / wallS else 0.0
}

object Main {
  /** Setups per run; `setup_s` is their median. The first, in a cold
    * JVM, takes several times the others, and the next few still get
    * faster as the JIT warms; the median of nine sits where they level
    * off. */
  val SetupReps = 9
  /** An iteration whose CPU/wall ratio is below this share of the
    * median ratio of the run's iterations is
    * labelled a stall: the host did not run us. */
  val StallShare = 0.5

  def main(argv: Array[String]): Unit = {
    val code = try run(Args.parse(argv)) catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    System.exit(code)
  }

  private def newSession(cores: Int, tmp: File): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(tmp, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.catalyst.GraftFunctions.register(spark)
    spark
  }

  def run(a: Args): Int = {
    val t0 = Clock.now()
    val cores = Runtime.getRuntime.availableProcessors
    val target = new File(a.target)
    val runs = new File(target, "runs")
    val work = new File(target, s"work/${a.workload}-${ProcessHandle.current().pid()}")
    Storage.deleteTree(work)
    work.mkdirs(); runs.mkdirs()

    // Set-up: session start, warm-up query and input generation, done
    // SetupReps times from scratch; the last session is kept.
    val setupS = ArrayBuffer.empty[Double]
    val sessionS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    (1 to SetupReps).foreach { rep =>
      if (spark != null) spark.stop()
      val s0 = Clock.now()
      spark = newSession(cores, work)
      sessionS += (Clock.now() - s0) / 1e9
      spark.range(1000000).selectExpr("sum(id)").collect()
      val dir = new File(work, s"inputs$rep")
      wl = Workloads.prepare(a.workload, spark, a.seed, dir)
      setupS += (Clock.now() - s0) / 1e9
      if (rep < SetupReps) Storage.deleteTree(dir)
    }

    val ctx = new Ctx(spark, work, a.corrupt, t0)
    def iterate(i: Int, traced: Boolean): IterRec = {
      ctx.begin(i, traced)
      val k0 = ctx.counters()
      val w0 = Clock.now(); val c0 = Clock.workNs(); val j0 = Clock.jitNs()
      try wl.iteration(ctx) catch { case _: IterationAborted => }
      val wall = Clock.now() - w0; val cpu = Clock.workNs() - c0; val jit = Clock.jitNs() - j0
      val (aw, ac, ak, tr) = ctx.asideTotals
      val held = ctx.heldMb()
      if (traced) {
        val d = ctx.counters() - k0 - ak
        val wallS = (wall - aw) / 1e9
        Seq("jobs" -> d.jobs.toDouble, "stages" -> d.stages.toDouble,
          "tasks" -> d.tasks.toDouble, "shuffle_write_bytes" -> d.shuffleWrite.toDouble,
          "shuffle_read_bytes" -> d.shuffleRead.toDouble, "spill_bytes" -> d.spill.toDouble,
          "gc_s" -> d.gcNs / 1e9, "executor_cpu_s" -> d.cpuNs / 1e9,
          "cpu_wall_ratio" -> (if (wallS > 0) d.cpuNs / 1e9 / wallS else 0.0))
          .foreach { case (k, v) => ctx.layer("spark." + k) = v }
      }
      ctx.end()
      ctx.release()
      IterRec(i, traced, (wall - aw) / 1e9, (cpu - ac) / 1e9, jit / 1e9, tr / 1e9,
        held, ctx.layer.toMap, ctx.extra.toMap)
    }

    val iters = ArrayBuffer.empty[IterRec]
    val deadline = Clock.now() + (a.seconds * 1e9).toLong
    var i = 1
    while (Clock.now() < deadline || iters.size < wl.minIters) {
      iters += iterate(i, traced = a.trace)
      i += 1
    }
    val extraLayer = if (a.trace) wl.afterTracedRun(ctx) else Map.empty[String, Double]

    val all = iters.toSeq
    val iterP50 = Stats.median(all.map(_.wallS))
    val medianRatio = Stats.median(iters.map(_.ratio).toSeq)
    def stall(r: IterRec): Boolean = r.ratio < StallShare * medianRatio
    def lat(kind: String, q: Double): Double =
      ctx.latencies.get(kind).map(xs => Stats.quantile(xs.toSeq, q)).getOrElse(0.0)

    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> Stats.median(setupS.toSeq),
      "iter_s_p50" -> iterP50,
      "rows_per_s" -> wl.inputRows / iterP50,
      "cpu_s_per_iter" -> Stats.median(all.map(_.cpuS)),
      "process_cpu_s_per_iter" -> Stats.median(all.map(r => r.cpuS + r.jitS)),
      "jit_cpu_s_per_iter" -> Stats.median(all.map(_.jitS)),
      "iter_n" -> all.size.toDouble,
      "failed_frac" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "held_mb" -> iters.map(_.heldMb).max,
      "stall_iters" -> iters.count(stall).toDouble)
    if (a.workload == "lake_io") {
      e2e("commit_s_p50") = lat("commit", 0.5)
      e2e("commit_s_p90") = lat("commit", 0.9)
      e2e("scan_s_p50") = lat("scan", 0.5)
      e2e("scan_s_p90") = lat("scan", 0.9)
      e2e("commit_n") = ctx.latencies.get("commit").map(_.size).getOrElse(0).toDouble
      e2e("scan_n") = ctx.latencies.get("scan").map(_.size).getOrElse(0).toDouble
      e2e("write_amp") = Stats.median(all.map(_.extra.getOrElse("write_amp", Double.NaN)))
      e2e("space_amp") = Stats.median(all.map(_.extra.getOrElse("space_amp", Double.NaN)))
    }
    val units = (Metrics.endToEnd ++ Metrics.reportOnly).toMap

    val layerKeys = all.flatMap(_.layer.keys).distinct
    val layerAll = mutable.LinkedHashMap.empty[String, Double]
    layerKeys.foreach(k => layerAll(k) = Stats.median(all.map(_.layer.getOrElse(k, 0.0))))
    layerAll ++= extraLayer
    if (a.trace) {
      layerAll("session.start_s") = Stats.median(sessionS.toSeq)
      // Wall time the listener drains added to the measured part of the
      // iteration, over the rest of it. Plan walks and held-block reads
      // run aside and are not measured.
      layerAll("trace.overhead_frac") =
        Stats.median(all.map(r => r.traceS / (r.wallS - r.traceS)))
    }

    val tag = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}"
    val spanFile = new File(runs, s"$tag-spans.json")
    if (a.trace) writeSpans(spanFile, ctx.spans.toSeq)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> cores, "seconds" -> a.seconds,
      "client" -> "one client, closed loop",
      "inputs" -> wl.inputs, "expected_outputs" -> wl.expectedOutputs,
      "end_to_end" -> e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) },
      "setup_runs_s" -> setupS, "session_start_s" -> sessionS,
      "iterations" -> iters.map(r => mutable.LinkedHashMap[String, Any](
        "i" -> r.i, "traced" -> r.traced, "wall_s" -> r.wallS, "cpu_s" -> r.cpuS,
        "jit_cpu_s" -> r.jitS, "trace_s" -> r.traceS, "cpu_wall_ratio" -> r.ratio,
        "label" -> (if (stall(r)) "stall" else "ok"),
        "held_mb" -> r.heldMb)),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "errors" -> ctx.errors,
      "tampered" -> ctx.tampered.toSeq)
    if (a.trace) {
      report("per_layer") = layerAll
      report("graft_functions_in_plans") = ctx.graftFunctions.toSeq
      report("spans_file") = spanFile.getPath
      report("self_time_s") = selfTimes(ctx.spans.toSeq)
    }
    val reportFile = new File(runs, s"$tag.json")
    write(reportFile, Json(report))

    spark.stop()
    Storage.deleteTree(work)

    val summary = mutable.LinkedHashMap[String, Any]("workload" -> a.workload,
      "report" -> reportFile.getPath, "inputs" -> wl.inputs,
      "end_to_end" -> report("end_to_end"))
    if (a.trace) summary("graft_functions_in_plans") = ctx.graftFunctions.toSeq
    println(Json(summary))
    val metrics = mutable.LinkedHashMap.empty[String, Any]
    if (a.trace)
      Metrics.perLayer.foreach { case (k, u) =>
        metrics(k) = Map("value" -> layerAll.getOrElse(k, 0.0), "unit" -> u) }
    else
      Metrics.endToEnd.foreach { case (k, u) => metrics(k) = Map("value" -> e2e(k), "unit" -> u) }
    println(Json(mutable.LinkedHashMap[String, Any]("correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "metrics" -> metrics)))
    0
  }

  /** Self time per span name, summed over the run: a span's duration
    * minus the part of it its child spans cover. */
  private def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit =
    write(f, Json(spans.map(s => mutable.LinkedHashMap[String, Any]("id" -> s.id,
      "parent" -> s.parent, "iter" -> s.iter, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))))

  private def write(f: File, text: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.println(text) finally w.close()
  }
}
