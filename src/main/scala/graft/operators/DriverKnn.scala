package graft.operators

import graft.functions.catalyst.{BottomK, DotF32}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  BoundReference, Divide, Expression, GenericInternalRow, Literal, Multiply, RowOrdering, Sqrt}
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils, UnsafeRowUtils}
import org.apache.spark.sql.graft.GroupKeys
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import scala.collection.mutable

/** The driver tier of [[SimilarityOps.knnJoin]]. It works on the
  * `(c_id, cv)` corpus rows and `(q_id, qv)` query rows that
  * `DriverBudget.collectAllWithin` shipped, and evaluates the plan's
  * own expressions: the norms `sqrt(graft_dot_f32(v, v))`, the pair
  * score `graft_dot_f32(cv, qv) / (cnrm · qnrm)` under the session's
  * ANSI setting, the per-query [[BottomK]] over the plan's ranking
  * struct, and the `groupBy` key normalization. */
private[operators] object DriverKnn {

  private val VecType = ArrayType(FloatType, containsNull = true)

  /** Whether the driver tier evaluates these column types exactly:
    * `array<float>` vectors, an orderable corpus id, and a query id
    * that groups by its binary value once floats are normalized. */
  def supports(corpusId: DataType, corpusVec: DataType,
               queryId: DataType, queryVec: DataType): Boolean = {
    def isVec(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    isVec(corpusVec) && isVec(queryVec) && RowOrdering.isOrderable(corpusId) &&
      RowOrdering.isOrderable(queryId) && UnsafeRowUtils.isBinaryStable(queryId)
  }

  /** The plan's ranking struct: NaN sims first, then by sim
    * descending, then by corpus id. */
  private def rankType(corpusId: DataType) = StructType(Seq(
    StructField("__nn", IntegerType, nullable = false),
    StructField("__ns", DoubleType), StructField("c_id", corpusId), StructField("sim", DoubleType)))

  /** [[SimilarityOps.knnJoin]]'s rows `(q_id, c_id, rank, sim)` in
    * `(q_id, rank)` order. Query rows group by `q_id` as the plan's
    * `groupBy` does: duplicate ids merge, a null id is its own group
    * and sorts first. Each group keeps the `k` smallest ranking
    * structs of its pairs under [[BottomK]]'s own ordering. A zero
    * norm raises `DIVIDE_BY_ZERO` with ANSI on (from Catalyst's
    * `Divide`) and gives a null sim with it off; a null vector, a null
    * element or a length mismatch gives a null sim. */
  def knnJoin(corpus: IndexedSeq[InternalRow], queries: IndexedSeq[InternalRow],
              corpusId: DataType, queryId: DataType, k: Int, conf: SQLConf): Seq[Row] = {
    val vec = BoundReference(0, VecType, nullable = true)
    val norm = Sqrt(DotF32(vec, vec))
    // the pair row: (cv, qv, cnrm, qnrm); `Divide` takes its ANSI mode
    // from the conf it is built under
    val simExpr = SQLConf.withExistingConf(conf) {
      Divide(DotF32(vec, BoundReference(1, VecType, nullable = true)),
        Multiply(BoundReference(2, DoubleType, nullable = true),
          BoundReference(3, DoubleType, nullable = true)))
    }
    val normalizeKey: Expression =
      GroupKeys.normalized(BoundReference(0, queryId, nullable = true))
    val ranked = rankType(corpusId)
    val top = BottomK(BoundReference(0, ranked, nullable = false), Literal(k.toLong))

    val cNorms = corpus.map(r => norm.eval(InternalRow(r.get(1, VecType))))
    // a null key is None, which sorts first as the plan's ORDER BY puts it
    val groups = mutable.TreeMap.empty[Option[Any], mutable.PriorityQueue[Any]](
      Ordering.Option(TypeUtils.getInterpretedOrdering(queryId)))
    val pair = new GenericInternalRow(4)
    queries.foreach { q =>
      val heap = groups.getOrElseUpdate(Option(normalizeKey.eval(q)), top.createAggregationBuffer())
      val qv = q.get(1, VecType)
      pair.update(1, qv)
      pair.update(3, norm.eval(InternalRow(qv)))
      corpus.indices.foreach { i =>
        pair.update(0, corpus(i).get(1, VecType))
        pair.update(2, cNorms(i))
        val sim = simExpr.eval(pair)
        val nn = if (sim != null && sim.asInstanceOf[Double].isNaN) 0 else 1
        val negSim = if (sim == null) null else -sim.asInstanceOf[Double]
        top.update(heap, InternalRow(InternalRow(nn, negSim, corpus(i).get(0, corpusId), sim)))
      }
    }
    val qOut = CatalystTypeConverters.createToScalaConverter(queryId)
    val cOut = CatalystTypeConverters.createToScalaConverter(corpusId)
    groups.toSeq.flatMap { case (key, heap) =>
      val kept = top.eval(heap: mutable.PriorityQueue[Any]).asInstanceOf[ArrayData]
      (0 until kept.numElements()).map { i =>
        val r = kept.getStruct(i, ranked.size)
        Row(qOut(key.orNull), cOut(r.get(2, corpusId)), i + 1, r.get(3, DoubleType))
      }
    }
  }
}
