package layerbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.layerbench.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM (all threads: tasks, driver, GC, JIT). */
  def cpuNs(): Long = os.getProcessCpuTime
  def now(): Long = System.nanoTime()

  /** Linux clock ticks per second of /proc/<pid>/stat (USER_HZ). */
  private val TickNs = 1000000000L / 100
  /** The JIT compiler threads' stat files. The JVM is started with
    * -XX:-UseDynamicNumberOfCompilerThreads, so the set is fixed at
    * start-up and no compiler thread exits with its CPU time. The JVM
    * hides these threads from ThreadMXBean; /proc names them. */
  private lazy val compilerStats: Seq[java.nio.file.Path] =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.filter { t =>
      val comm = try new String(Files.readAllBytes(new File(t, "comm").toPath)).trim
        catch { case _: java.io.IOException => "" }
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }.map(t => new File(t, "stat").toPath)

  /** CPU time of the JIT compiler threads (0 without /proc). */
  def jitNs(): Long = compilerStats.iterator.map { f =>
    try {
      val stat = new String(Files.readAllBytes(f))
      val fields = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
      (fields(11).toLong + fields(12).toLong) * TickNs // utime + stime
    } catch { case _: java.io.IOException => 0L }
  }.sum

  /** CPU time of the program's work: the process minus the JIT. */
  def workNs(): Long = cpuNs() - jitNs()
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Thrown after a failed public call: the rest of that iteration
  * depends on it, so the iteration stops and the failure is counted. */
final class IterationAborted extends RuntimeException

/** The one closed-loop client: times every public call the workloads
  * make, keeps spans, runs output checks, and — in traced iterations —
  * attributes Spark-runtime counters to the call that caused them.
  * Work done for checking or bookkeeping runs in `aside` blocks whose
  * wall time, CPU time and Spark counters are excluded from the
  * iteration's figures. With `corrupt`, results passed through `tamper`
  * are altered, so a test can prove the checks catch a wrong answer. */
final class Ctx(val spark: SparkSession, val workDir: File, corrupt: Boolean,
                t0Ns: Long) {
  private val sc = spark.sparkContext
  private val megabyte = 1024.0 * 1024.0

  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  val spans = ArrayBuffer.empty[Span]
  /** Latencies of every call, by call kind. */
  val latencies = mutable.Map.empty[String, ArrayBuffer[Double]]
  /** Graft expressions seen in the plans traced iterations executed. */
  val graftFunctions = mutable.SortedSet.empty[String]

  private var listener: Option[CounterListener] = None
  private var planListener: Option[PlanListener] = None
  private val owned = mutable.Set.empty[Int]
  private val references = mutable.Map.empty[String, String]
  /** Checks whose input `tamper` altered (with --corrupt). */
  val tampered = mutable.LinkedHashSet.empty[String]
  private var spanSeq = 0

  // per-iteration state
  var iter: Int = -1
  private var iterSpanId = ""
  private var iterStartNs = 0L
  private var asideWallNs = 0L
  private var asideCpuNs = 0L
  private var asideCounters = SparkCounters()
  private var asideDepth = 0
  /** Wall time the listener drains of traced calls add to the measured
    * part of the iteration (drains inside `aside` are not measured). */
  private var traceNs = 0L
  /** Per-layer values of the current iteration (traced iterations only). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific end-to-end values of the current iteration. */
  val extra = mutable.LinkedHashMap.empty[String, Double]

  def traced: Boolean = listener.isDefined

  def begin(i: Int, trace: Boolean): Unit = {
    iter = i
    iterSpanId = s"i$i"
    iterStartNs = Clock.now()
    asideWallNs = 0L
    asideCpuNs = 0L
    asideCounters = SparkCounters()
    traceNs = 0L
    layer.clear()
    extra.clear()
    if (trace) {
      val l = new CounterListener
      sc.addSparkListener(l)
      listener = Some(l)
      val p = new PlanListener
      spark.listenerManager.register(p)
      planListener = Some(p)
    }
  }

  def end(): Unit = {
    spans += Span(iterSpanId, "", iter, "iteration", iterStartNs - t0Ns, Clock.now() - t0Ns)
    listener.foreach { l =>
      ListenerDrain.drain(sc)
      sc.removeSparkListener(l)
    }
    planListener.foreach { p =>
      spark.listenerManager.unregister(p)
      p.graftFunctions.forEach(f => graftFunctions += f)
    }
    listener = None
    planListener = None
  }

  def counters(): SparkCounters = listener match {
    case Some(l) =>
      val t = Clock.now()
      ListenerDrain.drain(sc)
      if (asideDepth == 0) traceNs += Clock.now() - t
      l.snapshot()
    case None => SparkCounters()
  }

  /** Wall and program CPU (`Clock.workNs`) of the iteration's `aside`
    * blocks, their Spark counters, and the tracing wall time. */
  def asideTotals: (Long, Long, SparkCounters, Long) =
    (asideWallNs, asideCpuNs, asideCounters, traceNs)

  /** Run `body` outside the measured figures of the iteration. */
  def aside[T](body: => T): T = {
    asideDepth += 1
    val w0 = Clock.now(); val c0 = Clock.workNs(); val k0 = counters()
    try body
    finally {
      val k1 = counters()
      asideDepth -= 1
      if (asideDepth == 0) {
        asideCounters = asideCounters + (k1 - k0)
        asideCpuNs += Clock.workNs() - c0
        asideWallNs += Clock.now() - w0
      }
    }
  }

  private def span(name: String, s: Long, e: Long): Unit = {
    spanSeq += 1
    spans += Span(s"$iterSpanId.$spanSeq", iterSpanId, iter, name, s - t0Ns, e - t0Ns)
  }

  def add(key: String, v: Double): Unit = layer(key) = layer.getOrElse(key, 0.0) + v
  def add(key: String, v: Long): Unit = add(key, v.toDouble)

  private def fail(what: String, e: Throwable): Nothing = {
    failed += 1
    if (errors.size < 20) errors += s"iteration $iter: $what failed: $e"
    throw new IterationAborted
  }

  /** One public call of a `sources` layer, e.g. `sources.hive.write`.
    * `kind` ("commit", "scan" or "meta") selects the latency list. */
  def call[T](name: String, kind: String)(body: => T): T = {
    attempted += 1
    val k0 = counters()
    val s = Clock.now()
    val r = try body catch { case e: IterationAborted => throw e; case e: Throwable => fail(name, e) }
    val e = Clock.now()
    span(name, s, e)
    latencies.getOrElseUpdate(kind, ArrayBuffer.empty) += (e - s) / 1e9
    if (traced) {
      val d = counters() - k0
      add(name + "_s", (e - s) / 1e9)
      add(name.substring(0, name.lastIndexOf('.')) + ".jobs", d.jobs)
    }
    r
  }

  /** One operator call: `build` is the public call (including any
    * actions the operator runs itself), `exec` the terminal action that
    * consumes the DataFrame it returned. */
  def op[T](name: String)(build: => DataFrame)(exec: DataFrame => T): T = {
    attempted += 1
    val p = s"operators.$name"
    val held0 = if (traced) aside(heldMb()) else 0.0
    val k0 = counters()
    val s = Clock.now()
    val df = try build catch { case e: IterationAborted => throw e; case e: Throwable => fail(p + ".build", e) }
    val m = Clock.now()
    val r = try exec(df) catch { case e: IterationAborted => throw e; case e: Throwable => fail(p + ".exec", e) }
    val e = Clock.now()
    span(p + ".build", s, m)
    span(p + ".exec", m, e)
    if (traced) {
      val d = counters() - k0
      add(p + ".build_s", (m - s) / 1e9)
      add(p + ".exec_s", (e - m) / 1e9)
      add(p + ".jobs", d.jobs)
      add(p + ".shuffle_bytes", d.shuffleWrite)
      add(p + ".shuffle_records", d.shuffleRecords)
      aside {
        add(p + ".held_mb", heldMb() - held0)
        val shape = plan(df)
        add(p + ".exchanges", shape.exchanges)
      }
    }
    r
  }

  /** Count the plan of a DataFrame a public call returned into the
    * iteration's `plans.*` figures (traced iterations only). */
  def plan(df: DataFrame): PlanShape = {
    val shape = PlanShape.of(df)
    add("plans.exchanges", shape.exchanges)
    add("plans.bnlj", shape.bnlj)
    add("plans.interpreted_nodes", shape.interpreted)
    graftFunctions ++= shape.graftFunctions
    shape
  }

  /** An output check; a false or throwing check counts as a failure. */
  def check(what: String)(ok: => Boolean): Unit = aside {
    val good = try ok catch { case e: Throwable =>
      if (errors.size < 20) errors += s"iteration $iter: check '$what' threw: $e"
      false
    }
    if (!good) {
      failed += 1
      if (errors.size < 20) errors += s"iteration $iter: check '$what' failed"
    }
  }

  /** A result that must repeat exactly in every iteration of the run;
    * the first iteration sets the reference. */
  def checkStable(what: String, value: String): Unit =
    check(s"$what is identical across iterations") {
      references.getOrElseUpdate(what, value) == value
    }

  /** With --corrupt, alter the first value the check `what` passes
    * through here, so a test can prove that check catches a wrong
    * answer. */
  def tamper[T](what: String, v: T)(f: T => T): T =
    if (corrupt && tampered.add(what)) f(v) else v

  /** Materialise an operator's output for the next step (a lazy local
    * checkpoint, filled by the same job that computes its checksum).
    * The blocks belong to the benchmark and are left out of `held_mb`. */
  def materialize(df: DataFrame): (DataFrame, String) = {
    val m = df.localCheckpoint(eager = false)
    m.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => owned += lr.rdd.id
      case _ =>
    }
    (m, checksum(m))
  }

  /** Order-independent content hash: row count plus the exact sum of
    * per-row xxhash64 over every column. */
  def checksum(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  /** MiB of cached and persisted RDD blocks (memory + disk) the program
    * still holds, not counting the benchmark's own. */
  def heldMb(): Double =
    sc.getRDDStorageInfo.filterNot(i => owned.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum / megabyte

  /** Free every block, so the next iteration starts from nothing. Read
    * `heldMb` first: leaks show before this sweep hides them. */
  def release(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    owned.clear()
  }
}

/** Storage accounting from outside the program: a listing of a
  * directory tree, and the bytes that appeared between two listings. */
object Storage {
  def sizes(dir: File): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(walk)
      else if (f.isFile) out += f.getPath -> f.length()
    walk(dir)
    out.result()
  }

  def written(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.map { case (p, n) =>
      before.get(p) match {
        case Some(m) if m == n => 0L
        case _ => n
      }
    }.sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }
}
