package layerbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import graft.operators.Components
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

object GraphIter {
  val Nodes = 3000
  /** The graph is this many disjoint islands, island k holding a share
    * of the nodes proportional to 1/k. */
  val Islands = 12
  val PageRankIters = 5
  val DampingPermille = 850
  val Seeds = 5
  val LabelRounds = 2
  val CoreK = 3

  def prepare(spark: SparkSession, seed: Long, dir: File): GraphIter = {
    val rnd = new Random(seed)
    val n = Nodes
    val shares = (1 to Islands).map(1.0 / _)
    val sizes = shares.map(s => math.max(4, (n * s / shares.sum).toInt))
    val edges = mutable.ArrayBuffer.empty[(Long, Long)]
    var next = 1L
    // Preferential attachment inside each island: a new node links to
    // 1-3 earlier ones picked in proportion to their degree, giving a
    // power-law degree distribution.
    sizes.foreach { size =>
      val ids = (next until next + size).toArray
      next += size
      val ends = mutable.ArrayBuffer[Long](ids(0), ids(1))
      edges += ((ids(1), ids(0)))
      ids.drop(2).foreach { v =>
        val m = 1 + rnd.nextInt(3)
        (1 to m).foreach { _ =>
          val t = ends(rnd.nextInt(ends.size))
          if (rnd.nextBoolean()) edges += ((v, t)) else edges += ((t, v))
          ends += t
          ends += v
        }
      }
    }
    dir.mkdirs()
    val edgesPath = new File(dir, "edges.parquet").getPath
    spark.createDataFrame(
      spark.sparkContext.parallelize(edges.map { case (a, b) => Row(a, b) }.toSeq, 4),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
      .write.parquet(edgesPath)

    val occurrences = edges.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity)
      .map { case (v, occ) => v -> occ.size }.toSeq
    val degree = occurrences.map(_._2.toDouble)
    // personalised PageRank starts from the best-connected nodes
    val seedNodes = occurrences.sortBy { case (v, d) => (-d, v) }.take(Seeds).map(_._1)
    val inputs = Map[String, Any](
      "rows" -> edges.size, "nodes" -> (next - 1), "islands" -> Islands,
      "island_sizes" -> sizes,
      "degree_mean" -> degree.sum / degree.size,
      "degree_p50" -> Stats.quantile(degree, 0.5), "degree_p90" -> Stats.quantile(degree, 0.9),
      "degree_p99" -> Stats.quantile(degree, 0.99), "degree_max" -> degree.max,
      "page_rank_iters" -> PageRankIters, "ppr_seeds" -> seedNodes,
      "label_rounds" -> LabelRounds, "core_k" -> CoreK,
      "input_file_bytes" -> Storage.sizes(dir).values.sum)
    new GraphIter(spark, edges.toSeq, seedNodes, edgesPath, inputs)
  }

  /** Plain driver-side renderings of the five operators' contracts. */
  object Reference {
    def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.filter { case (a, b) => a != b }.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.toSeq.map(v => v -> find(v)).toMap
    }

    /** The integer recurrence `Components.pageRank` documents. */
    def pageRank(edges: Seq[(Long, Long)], iters: Int, d: Int,
                 seeds: Option[Set[Long]]): Map[Long, Long] = {
      val e = edges.filter { case (a, b) => a != b }.distinct
      val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
      val seed = nodes.map(v => v -> (if (seeds.forall(_.contains(v))) 1L else 0L)).toMap
      val base = 1000000L / seed.values.sum
      val outDeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var r = nodes.map(v => v -> base * seed(v)).toMap
      (1 to iters).foreach { _ =>
        val contrib = mutable.Map.empty[Long, Long].withDefaultValue(0L)
        e.foreach { case (s, t) => contrib(t) += r(s) / outDeg(s) }
        r = nodes.map(v => v -> ((1000L - d) * base * seed(v) + d * contrib(v)) / 1000L).toMap
      }
      r
    }

    def labelPropagation(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .filter { case (a, b) => a != b }.distinct
      val nbrs = sym.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
      var labels = nbrs.keys.map(v => v -> v).toMap
      (1 to rounds).foreach { _ =>
        labels = nbrs.map { case (v, ns) =>
          val counts = ns.groupBy(labels).map { case (l, xs) => l -> xs.size }
          val best = counts.values.max
          v -> counts.collect { case (l, c) if c == best => l }.min
        }
      }
      labels
    }

    def kCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
      var live = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .filter { case (a, b) => a != b }.distinct
      var changed = true
      while (changed) {
        val deg = live.groupBy(_._1).map { case (v, es) => v -> es.size }
        val next = live.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
        changed = next.size != live.size
        live = next
      }
      live.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    }
  }
}

final class GraphIter(spark: SparkSession, edges: Seq[(Long, Long)], seedNodes: Seq[Long],
                      edgesPath: String, val inputs: Map[String, Any]) extends Workload {
  import GraphIter._

  def inputRows: Long = edges.size.toLong

  private lazy val expected = Map(
    "connected_components" -> Reference.components(edges),
    "page_rank" -> Reference.pageRank(edges, PageRankIters, DampingPermille, None),
    "personalized_page_rank" ->
      Reference.pageRank(edges, PageRankIters, DampingPermille, Some(seedNodes.toSet)),
    "label_propagation" -> Reference.labelPropagation(edges, LabelRounds),
    "k_core" -> Reference.kCore(edges, CoreK))

  private lazy val seedsDf: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(seedNodes.map(Row(_)), 1),
    StructType(Seq(StructField("node", LongType))))

  def iteration(ctx: Ctx): Unit = {
    val e = spark.read.parquet(edgesPath)
    def run(name: String)(build: => DataFrame): Map[Long, Long] = {
      val got = ctx.op(name)(build)(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      val want = expected(name)
      val what = s"$name equals the plain rendering"
      ctx.check(what) {
        ctx.tamper(what, got)(m => m.updated(m.keys.head, m.values.head + 1)) == want
      }
      got
    }
    val cc = run("connected_components")(Components.connectedComponents(e, "src", "dst"))
    val pr = run("page_rank")(Components.pageRank(e, "src", "dst", PageRankIters, DampingPermille))
    run("personalized_page_rank")(Components.personalizedPageRank(
      e, "src", "dst", seedsDf, "node", PageRankIters, DampingPermille))
    run("label_propagation")(Components.labelPropagation(e, "src", "dst", LabelRounds))
    run("k_core")(Components.kCore(e, "src", "dst", CoreK))
    ctx.checkStable("component count", cc.values.toSet.size.toString)
    ctx.checkStable("rank sum", pr.values.sum.toString)
  }
}
