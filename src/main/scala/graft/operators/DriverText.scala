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
    * n_union, jac_ppm)` in `(a_id, b_id)` order; None when the prefix
    * lists' fan-out could exceed `maxPairs` candidates, in which case
    * the caller runs the distributed plan.
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
    val byFreq: Ordering[UTF8String] = (a, b) => {
      val c = java.lang.Long.compare(freq(a), freq(b))
      if (c != 0) c else a.binaryCompare(b)
    }
    // a null id never pairs (`a_id < b_id` is null), so it has no list
    val lists = rows.indices.collect { case k if ids(k).isDefined && sets(k).nonEmpty =>
      ids(k).get -> sets(k)
    }.groupMap(_._1)(_._2).map { case (id, s) => id -> s.flatten.sorted(byFreq) }
    val posting = mutable.HashMap.empty[UTF8String, mutable.Set[Long]]
    lists.foreach { case (id, l) =>
      val n = l.size.toLong
      val plen = n - (tNum * n + tDen - 1) / tDen + 1
      l.take(plen.toInt).foreach(t => posting.getOrElseUpdate(t, mutable.Set.empty) += id)
    }
    if (posting.valuesIterator.map(p => p.size.toLong * (p.size - 1) / 2).sum > maxPairs) None
    else {
      val candidates = posting.valuesIterator.flatMap { p =>
        val s = p.toIndexedSeq.sorted
        for (i <- s.indices.iterator; j <- i + 1 until s.size) yield (s(i), s(j))
      }.toSet
      val distinct = lists.view.mapValues(_.toSet).toMap
      Some(candidates.toSeq.sorted.flatMap { case (a, b) =>
        val (da, db) = (distinct(a), distinct(b))
        val inter = (if (da.size <= db.size) da.count(db) else db.count(da)).toLong
        val union = lists(a).size + lists(b).size - inter
        if (tDen.toLong * inter < tNum.toLong * union) None
        else Some(Row(idValue(a, idType), idValue(b, idType), inter, union,
          1000000L * inter / union))
      })
    }
  }
}
