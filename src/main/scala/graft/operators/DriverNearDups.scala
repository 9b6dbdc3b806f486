package graft.operators

import graft.functions.TextHash
import graft.functions.catalyst.HashOps
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder, XxHash64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The driver tier of [[DedupOps.dropNearDuplicates]]: the distributed
  * pipeline's steps over rows shipped to the driver, evaluated with the
  * very kernels and semantics the Spark plan uses, so both tiers drop
  * the same ids:
  *
  *  - tokens: Catalyst's own `split(text, ' ')` (limit −1), through
  *    [[DriverText.tokens]];
  *  - shingles, base hashes and signature components:
  *    `HashOps.shingles3`/`hashArray`/`seededMin`, band keys rendered
  *    as `concat_ws('|', …)` renders them;
  *  - the hot-bucket sub-block: the bucket's row count, salted
  *    `xxhash64(id, band)` through Catalyst's `XxHash64`, `pmod`;
  *  - verification: exact distinct-shingle Jaccard over every row of
  *    each candidate id, as the id-keyed joins see them;
  *  - clusters: [[Components.driverClusters]], the distributed rounds;
  *  - keep-best: Catalyst's interpreted ordering of the score type,
  *    nulls lowest, ties to the min id — what `groupBy` + `max(struct)`
  *    pick, NaN and −0.0 included. */
private[operators] object DriverNearDups {

  /** The ids the distributed pipeline drops, from `(id, text)` or
    * `(id, text, score)` rows; None when the candidate pairs could
    * exceed `maxPairs`, in which case the caller runs that pipeline. */
  def dropIds(rows: IndexedSeq[InternalRow], idType: DataType, scoreType: Option[DataType],
              bands: Int, rowsPerBand: Int, minJaccard: Double, maxBucketSize: Int,
              maxRounds: Int, maxPairs: Long): Option[Seq[Long]] = {
    require(bands * rowsPerBand <= TextHash.Seeds.size,
      s"at most ${TextHash.Seeds.size} seeds defined")
    val ids = DriverText.idsOf(rows, idType)
    val texts = rows.map(r => if (r.isNullAt(1)) null else r.getUTF8String(1))
    val seeds = TextHash.Seeds.take(bands * rowsPerBand)
    // every (band, band key) bucket's rows, and which rows can pair at
    // all: a row without a non-null shingle verifies against nothing,
    // yet still counts toward its bucket's size
    val buckets = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[Int]]
    val pairable = texts.indices.map { k =>
      val sh = shingles(texts(k))
      val hs = HashOps.hashArray(sh)
      val m = seeds.map { case (a, b) => HashOps.seededMin(hs, a, b) }
      (0 until bands).foreach { b =>
        // Long.MinValue is seededMin's NULL, which concat_ws skips
        val key = m.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
          .filter(_ != Long.MinValue).mkString("|")
        buckets.getOrElseUpdate((b, key), mutable.ArrayBuffer.empty) += k
      }
      (0 until sh.numElements()).exists(i => !sh.isNullAt(i))
    }
    val salt = new XxHash64(Seq(BoundReference(0, idType, nullable = false),
      BoundReference(1, IntegerType, nullable = false)))
    // the ids of each sub-block that can pair
    val blocks = buckets.toSeq.flatMap { case ((band, _), members) =>
      val nSub = (members.size.toLong + maxBucketSize - 1) / maxBucketSize
      val live = members.filter(k => pairable(k) && ids(k).isDefined).toVector
      val split =
        if (nSub <= 1) Seq(live)
        else live.groupBy { k =>
          val h = salt.eval(InternalRow(rows(k).get(0, idType), band)).asInstanceOf[Long]
          ((h % nSub) + nSub) % nSub
        }.values.toSeq
      split.map(_.flatMap(ids))
    }
    if (blocks.map(b => b.size.toLong * (b.size - 1) / 2).sum > maxPairs) None
    else {
      val candidates = blocks.flatMap { b =>
        for (i <- b.indices; j <- i + 1 until b.size if b(i) != b(j))
          yield (b(i).min(b(j)), b(i).max(b(j)))
      }.toSet
      val candIds = candidates.flatMap { case (a, b) => Seq(a, b) }
      val sets = texts.indices.collect { case k if ids(k).exists(candIds) =>
        ids(k).get -> shingleSet(texts(k))
      }.groupMap(_._1)(_._2)
      // canonical (u > v) edges, as the clustering orients them
      val edges = candidates.collect { case (a, b)
        if sets(a).exists(sa => sets(b).exists(sb => similar(sa, sb, minJaccard))) => (b, a)
      }
      val cluster = Components.driverClusters(edges, maxRounds)
      val keep = scoreType match {
        case None => cluster
        case Some(t) => keepBest(rows, ids, cluster, t)
      }
      Some(cluster.collect { case (id, c) if keep(c) != id => id }.toSeq.sorted)
    }
  }

  /** `graft_shingles3(split(text, ' '), text)`. */
  private def shingles(text: UTF8String): ArrayData =
    HashOps.shingles3(DriverText.tokens(text), text)

  /** `array_except(shingles, array(NULL))` as a set. */
  private def shingleSet(text: UTF8String): Set[UTF8String] = {
    val sh = shingles(text)
    (0 until sh.numElements()).collect { case i if !sh.isNullAt(i) => sh.getUTF8String(i) }.toSet
  }

  /** `n_common > 0` and `n_common / (n_a + n_b − n_common) ≥ minJaccard`
    * in doubles, as the distributed verification compares. */
  private def similar(a: Set[UTF8String], b: Set[UTF8String], minJaccard: Double): Boolean = {
    val common = (if (a.size <= b.size) a.count(b) else b.count(a)).toLong
    common > 0 && common.toDouble / (a.size + b.size - common).toDouble >= minJaccard
  }

  /** Cluster root → the id kept: the member row with the highest
    * score under the score type's ordering (null lowest), ties to the
    * min id. An id with several rows competes with each of them. */
  private def keepBest(rows: IndexedSeq[InternalRow], ids: IndexedSeq[Option[Long]],
                       cluster: Map[Long, Long], scoreType: DataType): Map[Long, Long] = {
    val byScore = new InterpretedOrdering(
      Seq(SortOrder(BoundReference(2, scoreType, nullable = true), Ascending)))
    val best = mutable.HashMap.empty[Long, (InternalRow, Long)]
    for (k <- rows.indices; id <- ids(k); c <- cluster.get(id)) {
      val better = best.get(c).forall { case (row, keptId) =>
        val cmp = byScore.compare(rows(k), row)
        cmp > 0 || (cmp == 0 && id < keptId)
      }
      if (better) best(c) = (rows(k), id)
    }
    best.view.mapValues(_._2).toMap
  }
}
