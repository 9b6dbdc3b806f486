package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}

import scala.collection.mutable.ArrayBuffer

/** The one driver-side data budget. Work whose input fits in it runs
  * on the driver instead of as Spark jobs: the Delta log replay
  * (`DeltaReader`), connected components' star rounds
  * (`Components.DriverMaxEdges`), near-duplicate removal
  * (`DedupOps.dropNearDuplicates`), span-level dedup
  * (`DedupOps.dedupSpans`), the exact prefix-filter Jaccard join
  * (`DedupOps.prefixJaccardPairs`) and the exact kNN join
  * (`SimilarityOps.knnJoin`). Above it the distributed path
  * runs, and specs pass a budget of 0 to force that path as the
  * parity reference. */
object DriverBudget {

  /** 4 MiB. */
  val MaxBytes: Long = 4L << 20

  /** A partition's even share of `budget` over `partitions`: a scan
    * ships a partition only while it stays within its share, so a
    * shipment that arrives whole is within the budget in total, and
    * no partition's task ever holds more than its share. Partitions
    * ship before the total is known, so an input over the budget can
    * still send up to `budget` bytes that the caller drops. */
  def share(budget: Long, partitions: Int): Long = budget / math.max(1, partitions)

  /** One partition's shipment under its `share`: items are offered
    * with their size in bytes, and [[kept]] holds them all while the
    * running total stays within the share, nothing once it is over. */
  final class Shipment[T](share: Long) {
    private var bytes = 0L
    private val buf = ArrayBuffer.empty[T]

    def offer(item: T, size: Long): Unit = {
      bytes += size
      if (bytes <= share) buf += item else buf.clear()
    }

    def full: Boolean = bytes > share

    def kept: Option[Seq[T]] = if (full) None else Some(buf.toSeq)
  }

  /** The rows of `df` on the driver when they fit in `budget` bytes
    * (each row's `UnsafeRow` size), else None. A zero-job pre-check
    * on the optimized plan's size estimate comes first; then ONE job
    * ships each partition that stays within its [[share]], and a
    * partition stops reading as soon as it is over. A plain RDD pass,
    * so it adds no shuffle stage of its own. A budget of 0 ships
    * nothing and runs no job. */
  def collectWithin(df: DataFrame, budget: Long): Option[IndexedSeq[InternalRow]] =
    collectAllWithin(Seq(df), Nil, budget).map(_.head)

  /** [[collectWithin]] for several frames in ONE job, a union of their
    * shipments: the rows of each of `estimated ++ unestimated`, in that
    * order, when all of them fit in `budget` bytes together, else None.
    * Every partition of every frame ships within its [[share]] of the
    * budget over all their partitions. Only `estimated` frames take
    * the zero-job size pre-check (their estimates summed): a frame
    * whose estimate is Spark's unknown default, such as one built
    * from a local RDD, would fail it whatever its size, and the shares
    * alone bound it. */
  def collectAllWithin(estimated: Seq[DataFrame], unestimated: Seq[DataFrame],
                       budget: Long): Option[Seq[IndexedSeq[InternalRow]]] = {
    if (budget <= 0 ||
        estimated.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum > budget) None
    else {
      val dfs = estimated ++ unestimated
      val rdds = dfs.map(_.queryExecution.toRdd)
      val partShare = share(budget, rdds.map(_.getNumPartitions).sum)
      val shipments = dfs.zip(rdds).map { case (df, rows) =>
        val schema = df.schema
        rows.mapPartitions { it =>
          val toUnsafe = UnsafeProjection.create(schema)
          val ship = new Shipment[UnsafeRow](partShare)
          while (it.hasNext && !ship.full) {
            val r = toUnsafe(it.next()).copy()
            ship.offer(r, r.getSizeInBytes)
          }
          Iterator(ship.kept)
        }
      }
      // one job: the union's partitions are each frame's, in order
      val parts = shipments.head.sparkContext.union(shipments).collect()
      if (!parts.forall(_.isDefined)) None
      else {
        val bounds = rdds.map(_.getNumPartitions).scanLeft(0)(_ + _)
        Some(bounds.zip(bounds.tail).map { case (from, until) =>
          parts.slice(from, until).toIndexedSeq.flatMap(_.get)
        })
      }
    }
  }
}
