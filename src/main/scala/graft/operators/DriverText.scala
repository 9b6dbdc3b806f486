package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, RowOrdering, StringSplit}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The driver tiers of [[DedupOps.dedupSpans]] and
  * [[DedupOps.prefixJaccardPairs]], and the row readers every driver
  * text tier shares with [[DriverNearDups]]. Each tier works on the
  * `(id, text)` rows that `DriverBudget.collectWithin` shipped and
  * evaluates the Spark plan's steps with its semantics: tokens from
  * Catalyst's own `split(text, ' ')`, strings compared as bytes, and
  * ids as the longs the plan's integral comparisons order. */
private[operators] object DriverText {

  /** Whether a driver tier evaluates these column types exactly:
    * integral ids, binary-collated string text, and (for a keep-best
    * pick) an orderable score. */
  def supports(idType: DataType, textType: DataType,
               scoreType: Option[DataType] = None): Boolean =
    Set[DataType](ByteType, ShortType, IntegerType, LongType).contains(idType) &&
      textType == StringType && scoreType.forall(RowOrdering.isOrderable)

  /** The integral id in column 0 of `r`, as a long. */
  private def idOf(r: InternalRow, idType: DataType): Long = idType match {
    case ByteType => r.getByte(0).toLong
    case ShortType => r.getShort(0).toLong
    case IntegerType => r.getInt(0).toLong
    case LongType => r.getLong(0)
  }

  /** The column 0 id of every row, None for a null id. */
  def idsOf(rows: IndexedSeq[InternalRow], idType: DataType): IndexedSeq[Option[Long]] =
    rows.map(r => if (r.isNullAt(0)) None else Some(idOf(r, idType)))

  /** [[idOf]]'s inverse: an id as the external value of `idType`. */
  def idValue(id: Long, idType: DataType): Any = idType match {
    case ByteType => id.toByte
    case ShortType => id.toShort
    case IntegerType => id.toInt
    case LongType => id
  }

  private val splitOnSpace =
    StringSplit(BoundReference(0, StringType, nullable = true), Literal(" "), Literal(-1))

  /** `split(text, ' ')`, limit −1: null for a null text. */
  def tokens(text: UTF8String): ArrayData =
    splitOnSpace.eval(InternalRow(text)).asInstanceOf[ArrayData]

  /** The column 1 tokens of `r`, none for a null text. */
  private def tokensOf(r: InternalRow): IndexedSeq[UTF8String] =
    if (r.isNullAt(1)) IndexedSeq.empty
    else {
      val t = tokens(r.getUTF8String(1))
      (0 until t.numElements()).map(t.getUTF8String)
    }

  private val Space = UTF8String.fromString(" ")

  private val byBytes: Ordering[UTF8String] = (a, b) => a.binaryCompare(b)

  /** [[DedupOps.dedupSpans]]' rows `(id, n_spans, n_kept, kept_text)`,
    * one per input row, as the plan's left joins give them. Spans
    * are `concat_ws(' ', slice(tokens, …))`; a span's owner is the
    * `min(struct(id, span_idx))` of its occurrences, a null id first;
    * each id's kept spans join in `(span_idx, span)` order. A null id
    * matches no group (0, 0, ""), and the rows of a duplicate id each
    * read the counts and text of all of them. */
  def dedupSpans(rows: IndexedSeq[InternalRow], idType: DataType, spanTokens: Int): Seq[Row] = {
    val ids = idsOf(rows, idType)
    val spans = rows.map(r => tokensOf(r).grouped(spanTokens)
      .map(g => UTF8String.concatWs(Space, g: _*)).toIndexedSeq)
    val first = Ordering.Tuple2(Ordering.Option(Ordering.Long), Ordering.Int)
    val owner = mutable.HashMap.empty[UTF8String, (Option[Long], Int)]
    val nSpans = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    for (k <- rows.indices) {
      ids(k).foreach(id => nSpans(id) += spans(k).size)
      spans(k).zipWithIndex.foreach { case (s, i) =>
        val o = (ids(k), i)
        if (owner.get(s).forall(first.lt(o, _))) owner(s) = o
      }
    }
    val kept = owner.toSeq.collect { case (s, (Some(id), i)) => id -> (i, s) }
      .groupMap(_._1)(_._2)
      .view.mapValues(_.sorted(Ordering.Tuple2(Ordering.Int, byBytes)).map(_._2)).toMap
    ids.map {
      case None => Row(null, 0L, 0L, "")
      case Some(id) =>
        val ks = kept.getOrElse(id, Seq.empty)
        Row(idValue(id, idType), nSpans(id), ks.size.toLong,
          UTF8String.concatWs(Space, ks: _*).toString)
    }
  }

  /** [[DedupOps.prefixJaccardPairs]]' rows `(a_id, b_id, n_inter,
    * n_union, jac_ppm)` in `(a_id, b_id)` order; None when there are
    * more than `maxPairs` distinct candidate pairs, or when finding
    * them takes more than `4 · maxPairs` probes (a pair is probed once
    * per prefix token it shares, so near-identical documents probe
    * theirs many times). The caller then runs the distributed plan.
    *
    * Token document frequency counts the distinct tokens of every
    * row, null ids included. An id's token list is all its rows'
    * distinct tokens in `(df, token)` order, so a duplicate id's list
    * can repeat a token; its prefix is the first
    * `n − ceil(t·n) + 1` of the `n` listed. Candidates share a prefix
    * token with `a < b`; `n_inter` is the distinct intersection and
    * `n_union = n_a + n_b − n_inter` over list lengths, verified by
    * `tDen·n_inter ≥ tNum·n_union`. */
  def prefixJaccardPairs(rows: IndexedSeq[InternalRow], idType: DataType, tNum: Int, tDen: Int,
                         maxPairs: Long): Option[Seq[Row]] = {
    val ids = idsOf(rows, idType)
    val sets = rows.map(r => tokensOf(r).distinct)
    val freq = mutable.HashMap.empty[UTF8String, Long].withDefaultValue(0L)
    sets.foreach(_.foreach(t => freq(t) += 1))
    // each distinct token's place in the (df, token bytes) order, so
    // lists sort as ints
    val rankOf = freq.toSeq
      .sorted(Ordering.by[(UTF8String, Long), (Long, UTF8String)](_.swap)(
        Ordering.Tuple2(Ordering.Long, byBytes)))
      .iterator.map(_._1).zipWithIndex.toMap
    // a null id never pairs (`a_id < b_id` is null), so it has no list;
    // lists are in id order, so their indices order as the ids do
    val lists: IndexedSeq[(Long, Array[Int])] = rows.indices
      .collect { case k if ids(k).isDefined && sets(k).nonEmpty => ids(k).get -> sets(k) }
      .groupMap(_._1)(_._2).toIndexedSeq.sortBy(_._1)
      .map { case (id, s) => id -> s.flatten.map(rankOf).toArray.sorted }
    val posting = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]
    lists.indices.foreach { i =>
      val n = lists(i)._2.length.toLong
      val plen = n - (tNum * n + tDen - 1) / tDen + 1
      lists(i)._2.iterator.take(plen.toInt).distinct
        .foreach(t => posting.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += i)
    }
    // candidate (a, b) list indices packed as a << 32 | b, probed once
    // per shared prefix token, until either limit is passed
    val probes = posting.valuesIterator.flatMap(p => p.indices.iterator.flatMap(x =>
      (x + 1 until p.size).iterator.map(y => p(x).toLong << 32 | p(y))))
    val candidates = mutable.LongMap.empty[Unit]
    var probed = 0L
    def within = candidates.size <= maxPairs && probed <= 4 * maxPairs
    probes.takeWhile(_ => within).foreach { key =>
      candidates(key) = ()
      probed += 1
    }
    if (!within) None
    else {
      val distinct = lists.map(_._2.distinct)
      Some(candidates.keys.toArray.sorted.toSeq.flatMap { key =>
        val (a, b) = ((key >>> 32).toInt, key.toInt)
        val inter = sortedIntersection(distinct(a), distinct(b)).toLong
        val union = lists(a)._2.length + lists(b)._2.length - inter
        if (tDen.toLong * inter < tNum.toLong * union) None
        else Some(Row(idValue(lists(a)._1, idType), idValue(lists(b)._1, idType), inter, union,
          1000000L * inter / union))
      })
    }
  }

  /** The size of the intersection of two ascending distinct arrays. */
  private def sortedIntersection(a: Array[Int], b: Array[Int]): Int = {
    var (i, j, n) = (0, 0, 0)
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }
}
