package graft.functions.catalyst

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot scalar paths.
  *
  * The composable HOF renderings in [[graft.functions.TextHash]] /
  * [[graft.functions.VectorSql]] are correct but interpreted — Spark's
  * higher-order functions don't participate in whole-stage codegen and
  * box per element. These expressions compute the SAME arithmetic
  * (bitwise-identical results, still verifiable against the DuckDB
  * oracle) as tight generated loops via `doGenCode`, keeping the whole
  * stage inside Tungsten codegen.
  *
  * Registered as SQL functions (`graft_rolling_hash`, `graft_hash_array`,
  * `graft_seeded_min`, `graft_dot_f32`) by [[GraftFunctions]], both
  * imperatively and via `SparkSessionExtensions`.
  */
object HashOps {
  val P: Long = 1000000007L

  /** Polynomial rolling hash over code points — exactly
    * `fold (h*31 + codepoint) mod P`, the arithmetic of
    * TextHash.spark.rollingHash / TextHash.duck.rollingHash. */
  def hash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  /** Rolling hash of every element of a string array; null elements
    * stay null (matching `transform`'s null propagation). */
  def hashArray(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = if (arr.isNullAt(i)) null else hash(arr.getUTF8String(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** min over (a*h + b) mod P of a long array, skipping nulls —
    * exactly `array_min(transform(hs, h -> (a*h + b) % P))`.
    * Returns Long.MinValue as the "null" sentinel for empty/all-null
    * (callers translate to SQL NULL). */
  def seededMin(hs: ArrayData, a: Long, b: Long): Long = {
    val n = hs.numElements()
    var min = Long.MaxValue
    var seen = false
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val v = (a * hs.getLong(i) + b) % P
        if (!seen || v < min) { min = v; seen = true }
      }
      i += 1
    }
    if (seen) min else Long.MinValue
  }

  /** Single-pass N-bit simhash over a long array: per bit, majority
    * vote of +-1 across elements (null elements vote -1 on every bit,
    * matching the HOF rendering's CASE semantics). */
  def simhash(hs: ArrayData, bits: Int): Int = {
    val counts = new Array[Int](bits)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      if (hs.isNullAt(i)) {
        var j = 0
        while (j < bits) { counts(j) -= 1; j += 1 }
      } else {
        val h = hs.getLong(i)
        var j = 0
        while (j < bits) {
          counts(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var out = 0
    var j = 0
    while (j < bits) {
      if (counts(j) > 0) out |= (1 << j)
      j += 1
    }
    out
  }

  /** Wide (up to 63-bit) variant of [[simhash]] returning the
    * fingerprint as a long. Same per-bit majority-vote semantics; kept
    * separate so the 32-bit expression's IntegerType result (and the
    * queries hashed against it) stay stable. */
  def simhash64(hs: ArrayData, bits: Int): Long = {
    val counts = new Array[Int](bits)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      if (hs.isNullAt(i)) {
        var j = 0
        while (j < bits) { counts(j) -= 1; j += 1 }
      } else {
        val h = hs.getLong(i)
        var j = 0
        while (j < bits) {
          counts(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Winnowed fingerprint set in one pass: rolling hash of every
    * character k-gram, min per length-w hash window, distinct, sorted
    * ascending — exactly the HOF chain
    * `array_sort(array_distinct(transform(windows, min)))` over
    * `kgramHashes`, including its short-text fallback (text shorter
    * than k+w-1 chars → the whole-text hash). Code-point iteration
    * matches Spark's character-based substring semantics. */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    if (n < k + w - 1) {
      var h = 0L
      var i = 0
      while (i < n) { h = (h * 31 + cps(i)) % P; i += 1 }
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](h))
    }
    val m = n - k + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = i
      while (j < i + k) { h = (h * 31 + cps(j)) % P; j += 1 }
      hs(i) = h
      i += 1
    }
    val mins = new java.util.TreeSet[java.lang.Long]()
    var j = 0
    val nw = m - w + 1
    while (j < nw) {
      var mn = Long.MaxValue
      var x = j
      while (x < j + w) { if (hs(x) < mn) mn = hs(x); x += 1 }
      mins.add(mn)
      j += 1
    }
    val out = new Array[Any](mins.size)
    val it = mins.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next().longValue(); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private val ShingleSep = UTF8String.fromString(" ")

  /** 3-token shingles of a string array — exactly the HOF rendering
    * `TextHash.spark.shingles3Hof`: size ≥ 3 → the n−2 space-joined
    * triples (a null token nulls its shingles, matching concat), else
    * (including a NULL token array — `size(NULL)` is NULL and the
    * CASE falls through) the single-element fallback array. The HOF
    * form interprets three element_at lambdas + concat per shingle;
    * this is one generated call per row. */
  def shingles3(toks: ArrayData, fallback: UTF8String): ArrayData = {
    val n = if (toks == null) -1 else toks.numElements()
    if (n < 3)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](fallback))
    val out = new Array[Any](n - 2)
    var i = 0
    while (i < n - 2) {
      out(i) =
        if (toks.isNullAt(i) || toks.isNullAt(i + 1) || toks.isNullAt(i + 2)) null
        else UTF8String.concat(toks.getUTF8String(i), ShingleSep,
          toks.getUTF8String(i + 1), ShingleSep, toks.getUTF8String(i + 2))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Bigram repetition counts of a token array in one pass: with the
    * bigrams `t(i) + " " + t(i+1)` (a null token nulls its bigram),
    * `(n_bigrams, n_dup_bigrams, top_bigram_n)` — exactly the HOF
    * rendering `size(bg)`, `size(bg) - size(array_distinct(bg))` and
    * `array_max(transform(array_distinct(bg), g -> size(filter(bg,
    * x -> x = g))))` over
    * `transform(sequence(1, n - 1), i -> concat(t[i], ' ', t[i + 1]))`.
    * A null bigram counts once as distinct and 0 toward the top count
    * (`x = null` never holds); a null array, and any array under two
    * tokens, has no bigrams and gives zeros. Where the HOF form rescans
    * the bigram array once per distinct bigram, this hashes each bigram
    * once. */
  def bigramStats(toks: ArrayData): InternalRow = {
    val nb = if (toks == null) 0 else math.max(0, toks.numElements() - 1)
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var nullBigrams = 0
    var top = 0
    var i = 0
    while (i < nb) {
      if (toks.isNullAt(i) || toks.isNullAt(i + 1)) nullBigrams += 1
      else {
        val c = counts.merge(UTF8String.concat(toks.getUTF8String(i), ShingleSep,
          toks.getUTF8String(i + 1)), 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
        if (c > top) top = c
      }
      i += 1
    }
    val distinct = counts.size + (if (nullBigrams > 0) 1 else 0)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nb.toLong, (nb - distinct).toLong, top.toLong))
  }

  /** Byte offsets of each code-point start in `s`, plus an end
    * sentinel — the O(n) walk that replaces per-position
    * `substring(s, i, k)` calls (each of which re-seeks from byte 0,
    * making gram explosion O(n²) in the HOF renderings). */
  private def cpOffsets(s: UTF8String): Array[Int] = {
    val nb = s.numBytes()
    val offs = new Array[Int](s.numChars() + 1)
    var i = 0
    var c = 0
    while (i < nb) {
      offs(c) = i
      i += UTF8String.numBytesForFirstByte(s.getByte(i))
      c += 1
    }
    offs(c) = nb
    offs
  }

  /** Unordered within-`maxDist` token pairs — for each distance
    * `d ∈ [1, maxDist]` and position `i`, the canonicalized pair
    * `(least(t(i), t(i+d)), greatest(t(i), t(i+d)))` — exactly the
    * HOF rendering
    * `concat(zip_with(slice(t,1,n-d), slice(t,1+d,n-d),
    * (x,y) -> struct(least(x,y) a, greatest(x,y) b)) …)` computed in
    * one pass: no slice copies, no interpreted lambda per element.
    * Null elements follow least/greatest semantics (nulls skipped
    * unless both sides are null). */
  def adjacentPairs(arr: ArrayData, maxDist: Int): ArrayData = {
    val n = arr.numElements()
    var total = 0
    var d = 1
    while (d <= maxDist) { total += math.max(0, n - d); d += 1 }
    val out = new Array[Any](total)
    var o = 0
    d = 1
    while (d <= maxDist) {
      val lim = n - d
      var i = 0
      while (i < lim) {
        val x = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
        val y = if (arr.isNullAt(i + d)) null else arr.getUTF8String(i + d)
        val row =
          if (x == null && y == null)
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](null, null))
          else if (x == null)
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](y, y))
          else if (y == null)
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](x, x))
          else if (x.compareTo(y) <= 0)
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](x, y))
          else
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](y, x))
        out(o) = row
        o += 1
        i += 1
      }
      d += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** All `n`-character grams of `s`, one per start position — for
    * `length(s) ≥ n` exactly
    * `transform(sequence(1, length(s) − n + 1), i -> substring(s, i, n))`.
    * Shorter inputs return an EMPTY array (the HOF's descending
    * `sequence` in that regime is an artifact no caller relies on:
    * every call site guards `length ≥ n`). Each gram is a zero-copy
    * slice over one shared byte array. */
  def charGrams(s: UTF8String, n: Int): ArrayData = {
    val nc = s.numChars()
    if (nc < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val offs = cpOffsets(s)
    val bytes = s.getBytes
    val out = new Array[Any](nc - n + 1)
    var i = 0
    while (i <= nc - n) {
      out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Rolling hashes of every `k`-gram of `s` — for `length(s) ≥ k`
    * exactly `transform(sequence(1, length(s) − k + 1),
    * kg -> graft_rolling_hash(substring(s, kg, k)))`, computed in one
    * code-point pass with no gram-string allocation. Shorter inputs
    * return an empty array (same guarded contract as [[charGrams]]). */
  def kgramHashes(s: UTF8String, k: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var j = i
      while (j < i + k) { h = (h * 31 + cps(j)) % P; j += 1 }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Strict left-to-right dot product of two float arrays in double
    * precision — exactly
    * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)`,
    * including its null semantics: any null element or length mismatch
    * yields SQL NULL (boxed null here), while NaN INPUTS propagate as
    * a genuine NaN result — the two cases must not be conflated or
    * the bitwise-parity contract with the HOF form breaks. */
  def dotF32(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Product-quantization encode kernel: for each of `m` contiguous
    * subspaces of `vec` (sub-dimension inferred from the vector
    * length), the index of the nearest codebook centroid by squared
    * L2 — accumulation order and first-min tie-break EXACTLY match
    * the HOF rendering in `SimilarityOps.pqEncodeHof` (fold i
    * ascending; strict `<` keeps the earliest min, as
    * `array_position(ds, array_min(ds))` does). `cbFlat` is the
    * codebook flattened [s][c][i]-major. Null/any-null input → null
    * (callers guard with raise_error upstream). */
  def pqEncode(vec: ArrayData, cbFlat: Array[Double], m: Int): ArrayData = {
    val dim = vec.numElements()
    if (dim == 0 || dim % m != 0) return null
    val dsub = dim / m
    val k = cbFlat.length / (m * dsub)
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        var d = 0.0
        val off = (s * k + c) * dsub
        var i = 0
        while (i < dsub) {
          if (vec.isNullAt(s * dsub + i)) return null
          val x = vec.getFloat(s * dsub + i).toDouble - cbFlat(off + i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** BPE merge-application kernel: per token, segment into code
    * points (matching Spark/DuckDB `substring`'s character = code
    * point convention) and apply each merge in order as ONE
    * left-to-right non-overlapping pass — after a fuse the scan
    * resumes AFTER the fused piece, exactly the `replace` algebra of
    * the wrapped-string HOF rendering in
    * `TextOps.applyBpeMergesHof`. Pieces from all tokens flatten in
    * token order; the empty token contributes none. A null token
    * element nulls the whole row (the HOF's `flatten` over a null
    * segment); a token containing `<` or `>` raises, mirroring the
    * HOF's raise_error guard. */
  def bpeApply(toks: ArrayData, lefts: Array[String],
               rights: Array[String]): ArrayData = {
    val nTok = toks.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var t = 0
    while (t < nTok) {
      if (toks.isNullAt(t)) return null
      val w = toks.getUTF8String(t).toString
      if (w.indexOf('<') >= 0 || w.indexOf('>') >= 0)
        throw new IllegalArgumentException(
          "applyBpeMerges: token contains < or >")
      if (w.nonEmpty) {
        val cps = w.codePoints().toArray
        val pieces = new Array[String](cps.length)
        var j = 0
        while (j < cps.length) {
          pieces(j) = new String(Character.toChars(cps(j)))
          j += 1
        }
        var plen = cps.length
        var m = 0
        while (m < lefts.length) {
          val a = lefts(m); val b = rights(m); val ab = a + b
          var r = 0; var wr = 0
          while (r < plen) {
            if (r + 1 < plen && pieces(r) == a && pieces(r + 1) == b) {
              pieces(wr) = ab; r += 2
            } else { pieces(wr) = pieces(r); r += 1 }
            wr += 1
          }
          plen = wr
          m += 1
        }
        var k = 0
        while (k < plen) { out += UTF8String.fromString(pieces(k)); k += 1 }
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Z-value kernel: per column c, bucket = |{b in bounds[c] :
    * b <= v}| via binary search (`Double.compare` order, so NaN lands
    * above every boundary; a NULL element buckets to 0), then the
    * buckets interleave MSB-first across columns into one long. The
    * row's value array length must match the boundary table's column
    * count — a mismatch is a wiring bug and raises. */
  def zvalue(vals: ArrayData, bounds: Array[Double], perCol: Int): Long = {
    val nCols = bounds.length / perCol
    if (vals.numElements() != nCols)
      throw new IllegalArgumentException(
        s"graft_zvalue: row has ${vals.numElements()} values, boundary table has $nCols columns")
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(perCol.toLong)
    var z = 0L
    var bit = bits - 1
    while (bit >= 0) {
      var c = 0
      while (c < nCols) {
        val bucket =
          if (vals.isNullAt(c)) 0
          else {
            val v = vals.getDouble(c)
            var lo = 0; var hi = perCol // count of boundaries <= v
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (java.lang.Double.compare(bounds(c * perCol + mid), v) <= 0)
                lo = mid + 1
              else hi = mid
            }
            lo
          }
        z = (z << 1) | ((bucket >>> bit) & 1)
        c += 1
      }
      bit -= 1
    }
    z
  }
}

/** `graft_pq_encode(array<float>, array<double>, m) -> array<int>` —
  * product-quantization encode as one generated call: nearest
  * codebook centroid per contiguous subspace (squared L2, first-min
  * ties). The codebook (a foldable flattened literal, [s][c][i]-major)
  * is evaluated ONCE and shipped as a codegen reference object; the
  * HOF rendering re-walks interpreted lambdas per row per centroid
  * (`SimilarityOps.pqEncodeHof`, kept for the bitwise-parity spec).
  * The sub-dimension is inferred from the vector length. */
case class PqEncode(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _), IntegerType)
        if second.foldable && third.foldable =>
        if (second.eval() == null || third.eval() == null)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName codebook and m must be non-null constants")
        else if (mVal >= 1 && cbFlat.nonEmpty && cbFlat.length % mVal == 0)
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName codebook length ${cbFlat.length} not divisible into m=$mVal subspaces")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, foldable array<double>, foldable int)")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  private lazy val cbFlat: Array[Double] =
    second.eval().asInstanceOf[ArrayData].toDoubleArray()
  private lazy val mVal: Int = third.eval().asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = first.eval(input)
    if (v == null) null
    else HashOps.pqEncode(v.asInstanceOf[ArrayData], cbFlat, mVal)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCbFlat", cbFlat, "double[]")
    nullSafeCodeGen(ctx, ev, (v, _, _) => {
      s"""
         |${ev.value} = graft.functions.catalyst.HashOps.pqEncode($v, $cbRef, $mVal);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqEncode = copy(f, s, t)
}

/** `graft_bpe_apply(array<string>, merges_flat) -> array<string>` —
  * BPE merge application as one generated call per document: the
  * merge table (a foldable flat `array<string>` [a1,b1,a2,b2,…])
  * ships ONCE as a codegen reference object and each token is
  * segmented + fused in place, where the HOF rendering
  * (`TextOps.applyBpeMergesHof`, kept for the bitwise-parity spec)
  * re-walks interpreted lambdas and allocates a wrapped string per
  * token per merge. Output is the per-document flattened piece
  * array, token order preserved. */
case class BpeApply(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _))
        if right.foldable =>
        if (right.eval() == null)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName merge table must be a non-null constant")
        else if (mergesFlat.isEmpty || mergesFlat.length % 2 != 0)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName merge table must be a non-empty even-length flat array")
        else if (mergesFlat.exists(p =>
          p == null || p.isEmpty || p.exists(c => c == '<' || c == '>')))
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName merge pieces must be non-null, non-empty and angle-bracket-free")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, foldable array<string>)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bpe_apply"

  private lazy val mergesFlat: Array[String] =
    right.eval().asInstanceOf[ArrayData]
      .toArray[UTF8String](StringType).map(u => if (u == null) null else u.toString)
  private lazy val lefts: Array[String] =
    mergesFlat.zipWithIndex.collect { case (p, i) if i % 2 == 0 => p }
  private lazy val rights: Array[String] =
    mergesFlat.zipWithIndex.collect { case (p, i) if i % 2 == 1 => p }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) null
    else HashOps.bpeApply(v.asInstanceOf[ArrayData], lefts, rights)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeLefts", lefts, "java.lang.String[]")
    val rRef = ctx.addReferenceObj("bpeRights", rights, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      s"""
         |${ev.value} = graft.functions.catalyst.HashOps.bpeApply($v, $lRef, $rRef);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BpeApply =
    copy(left = l, right = r)
}

/** `graft_zvalue(array<double>, bounds_flat, per_col) -> bigint` —
  * Morton (Z-order) curve value for multi-column clustering: per
  * column, binary-search the row value into that column's sorted
  * quantile boundaries (`bounds_flat` is [col][boundary]-major, a
  * foldable literal shipped once as a codegen reference object) to a
  * bucket in [0, per_col], then bit-interleave the buckets MSB-first
  * across columns. Range-partitioning the rewrite on this value gives
  * every landed file a tight min/max envelope on EVERY clustered
  * column at once — the multi-column data-skipping layout `OPTIMIZE
  * ZORDER BY` produces in delta-spark. NULL values bucket to 0 (they
  * cluster together at the curve's origin); NaN sorts above every
  * boundary (`Double.compare` order). */
case class ZValue(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _), IntegerType)
        if second.foldable && third.foldable =>
        if (second.eval() == null || third.eval() == null)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName bounds and per_col must be non-null constants")
        else if (perCol < 1)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName per_col must be >= 1, got $perCol")
        else if (bounds.isEmpty || bounds.length % perCol != 0)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName bounds length ${bounds.length} not divisible by per_col=$perCol")
        else {
          val nCols = bounds.length / perCol
          val bits = 64 - java.lang.Long.numberOfLeadingZeros(perCol.toLong)
          if (nCols * bits > 63)
            TypeCheckResult.TypeCheckFailure(
              s"$prettyName $nCols cols x $bits bits overflow 63 z-bits")
          else TypeCheckResult.TypeCheckSuccess
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, foldable array<double>, foldable int)")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_zvalue"

  private lazy val bounds: Array[Double] =
    second.eval().asInstanceOf[ArrayData].toDoubleArray()
  private lazy val perCol: Int = third.eval().asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = first.eval(input)
    if (v == null) null
    else HashOps.zvalue(v.asInstanceOf[ArrayData], bounds, perCol)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("zBounds", bounds, "double[]")
    nullSafeCodeGen(ctx, ev, (v, _, _) => {
      s"${ev.value} = graft.functions.catalyst.HashOps.zvalue($v, $bRef, $perCol);"
    })
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ZValue = copy(f, s, t)
}

/** `graft_simhash(array<bigint>, bits) -> int` — single-pass N-bit
  * simhash. The HOF rendering folds the hash array once PER BIT; this
  * accumulates all bit counters in one pass inside codegen. Semantics
  * match the HOF form exactly, including null elements voting -1 on
  * every bit (CASE WHEN null THEN 1 ELSE -1 takes the ELSE branch). */
case class Simhash(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) if right.foldable =>
        if (right.eval() == null)
          TypeCheckResult.TypeCheckFailure(s"$prettyName bits must be a non-null constant")
        else if (bits >= 1 && bits <= 32) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"$prettyName bits must be in [1, 32], got $bits")
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<bigint>, constant int)")
    }
  private lazy val bits: Int = right.eval().asInstanceOf[Int]
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "graft_simhash"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val hs = left.eval(input)
    if (hs == null) null
    else HashOps.simhash(hs.asInstanceOf[ArrayData], bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hs, _) =>
      s"${ev.value} = graft.functions.catalyst.HashOps.simhash($hs, $bits);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Simhash =
    copy(left = l, right = r)
}

/** `graft_simhash64(array<bigint>, bits) -> bigint` — wide simhash
  * (bits up to 63) for LSH band keys whose bucket cardinality must
  * grow with corpus size: a `bits`-bit fingerprint split into `k`
  * bands yields `2^(bits/k)` buckets per band, and the per-band
  * self-join cost is Θ(Σ bucket²) — so at n docs you want
  * `2^(bits/k) ≳ n / targetBucketSize`, which 32 bits cannot reach at
  * the 100 TB design point. */
case class Simhash64(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) if right.foldable =>
        if (right.eval() == null)
          TypeCheckResult.TypeCheckFailure(s"$prettyName bits must be a non-null constant")
        else if (bits >= 1 && bits <= 63) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"$prettyName bits must be in [1, 63], got $bits")
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<bigint>, constant int)")
    }
  private lazy val bits: Int = right.eval().asInstanceOf[Int]
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "graft_simhash64"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val hs = left.eval(input)
    if (hs == null) null
    else HashOps.simhash64(hs.asInstanceOf[ArrayData], bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hs, _) =>
      s"${ev.value} = graft.functions.catalyst.HashOps.simhash64($hs, $bits);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Simhash64 =
    copy(left = l, right = r)
}

/** `graft_rolling_hash(string) -> bigint` */
case class RollingHash(child: Expression)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string argument")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash"
  override protected def nullSafeEval(input: Any): Any =
    HashOps.hash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.catalyst.HashOps.hash($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** `graft_hash_array(array<string>) -> array<bigint>` */
case class HashArray(child: Expression)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>")
  }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "graft_hash_array"
  override protected def nullSafeEval(input: Any): Any =
    HashOps.hashArray(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.catalyst.HashOps.hashArray($c)")
  override protected def withNewChildInternal(newChild: Expression): HashArray =
    copy(child = newChild)
}

/** `graft_seeded_min(array<bigint>, a, b) -> bigint` — one minhash
  * signature component from precomputed base hashes. */
case class SeededMin(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires (array<bigint>, bigint, bigint)")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_seeded_min"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val hs = first.eval(input)
    val a = second.eval(input)
    val b = third.eval(input)
    if (hs == null || a == null || b == null) null
    else {
      val v = HashOps.seededMin(hs.asInstanceOf[ArrayData],
        a.asInstanceOf[Long], b.asInstanceOf[Long])
      if (v == Long.MinValue) null else v
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hs, a, b) => {
      s"""
         |${ev.value} = graft.functions.catalyst.HashOps.seededMin($hs, $a, $b);
         |if (${ev.value} == Long.MIN_VALUE) { ${ev.isNull} = true; ${ev.value} = -1L; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SeededMin = copy(f, s, t)
}

/** `graft_winnow(string, k, w) -> array<bigint>` — winnowed (MOSS)
  * fingerprint set as ONE generated call: the HOF rendering walks the
  * text once per k-gram (boxing every hash) and again per window; this
  * computes k-gram hashes, window minima, dedup and sort in a single
  * pass over the decoded code points. Bitwise-equal to
  * `TextHash.spark.kgramHashes` + `winnowFromHashes` with the
  * short-text whole-hash fallback folded in. */
case class Winnow(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (_: StringType, IntegerType, IntegerType)
          if second.foldable && third.foldable =>
        if (second.eval() == null || third.eval() == null)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName k and w must be non-null constants")
        else if (k >= 1 && w >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"$prettyName needs k >= 1 and w >= 1")
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (string, constant int k, constant int w)")
    }
  private lazy val k: Int = second.eval().asInstanceOf[Int]
  private lazy val w: Int = third.eval().asInstanceOf[Int]
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = first.nullable
  override def prettyName: String = "graft_winnow"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val s = first.eval(input)
    if (s == null) null
    else HashOps.winnow(s.asInstanceOf[UTF8String], k, w)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _, _) =>
      s"${ev.value} = graft.functions.catalyst.HashOps.winnow($s, $k, $w);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Winnow = copy(f, s, t)
}

/** `graft_dot_f32(array<float>, array<float>) -> double` — strict
  * sequential dot product (bitwise-equal to the HOF rendering and the
  * DuckDB oracle's list_reduce). */
case class DotF32(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires two array<float> arguments")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot_f32"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) null
    else {
      val v = HashOps.dotF32(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      if (v == null) null else v.doubleValue()
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("dotBoxed")
      s"""
         |java.lang.Double $boxed = graft.functions.catalyst.HashOps.dotF32($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF32 =
    copy(left = l, right = r)
}

/** `graft_cms_query(binary, item) -> bigint` — point query of a
  * serialized Spark `CountMinSketch` (the binary produced by the
  * built-in `count_min_sketch(col, eps, confidence, seed)` aggregate,
  * which Spark exposes with no SQL-level reader — this expression is
  * the missing half). Returns the sketch's estimate of `item`'s
  * count: always ≥ the true count, and ≤ true + ⌈eps·N⌉ with
  * probability `confidence` (Cormode & Muthukrishnan 2005); with a
  * fixed seed the estimate is deterministic for a given dataset, so
  * it is bounds-checkable against an exact count (the q45 pattern).
  *
  * Items may be integral or string — matching the domains the
  * aggregate itself accepts.
  *
  * Scale shape (100 TB): the expression deserializes the sketch per
  * ROW, so it belongs on aggregated, dimension-bounded frames (one
  * sketch per group), never on raw corpus rows — which is exactly
  * where a mergeable sketch lives in a pipeline: build with the
  * partial-aggregating `count_min_sketch` over the corpus, probe the
  * few group-level sketches. Interpreted eval (CodegenFallback) is
  * irrelevant at that cardinality. */
case class CmsQuery(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cms_query"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        "graft_cms_query: first argument must be BINARY " +
          "(a count_min_sketch aggregate result)")
    else right.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_cms_query: item must be integral or STRING, got $other")
    }
  }

  override protected def nullSafeEval(sketch: Any, item: Any): Any = {
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketch.asInstanceOf[Array[Byte]]))
    val probe: Any = item match {
      case s: UTF8String => s.toString
      case other => other
    }
    cms.estimateCount(probe)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsQuery =
    copy(left = l, right = r)
}

/** `graft_shingles3(array<string>, fallback_text) -> array<string>` —
  * 3-token shingles with whole-text fallback below 3 tokens. NOT
  * null-propagating on the token array (a NULL array takes the
  * fallback branch, matching the CASE in the HOF rendering), so this
  * overrides eval/doGenCode directly instead of the nullSafe helpers. */
case class Shingles3(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(_: StringType, _), _: StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, string)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles3"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = left.eval(input)
    val f = right.eval(input)
    HashOps.shingles3(
      if (t == null) null else t.asInstanceOf[ArrayData],
      if (f == null) null else f.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val t = left.genCode(ctx)
    val f = right.genCode(ctx)
    val resultCode =
      code"""
        ${t.code}
        ${f.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.catalyst.HashOps.shingles3(
            ${t.isNull} ? null : ${t.value},
            ${f.isNull} ? null : ${f.value});
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Shingles3 =
    copy(left = l, right = r)
}

/** `graft_char_grams(string, k) -> array<string>` — every k-character
  * gram of the input, one per start position (empty below k chars;
  * call sites guard `length >= k`). `k` must be a foldable positive
  * int: the gram walk is O(text) total where the HOF rendering's
  * per-position substring re-seek is O(text²). */
case class CharGrams(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, IntegerType) if right.foldable =>
        if (right.eval() == null || kVal < 1)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName gram length must be a positive non-null constant")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, foldable int)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "graft_char_grams"

  private lazy val kVal: Int = right.eval().asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val s = left.eval(input)
    if (s == null) null
    else HashOps.charGrams(s.asInstanceOf[UTF8String], kVal)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) => {
      s"${ev.value} = graft.functions.catalyst.HashOps.charGrams($s, $kVal);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CharGrams =
    copy(left = l, right = r)
}

/** `graft_kgram_hashes(string, k) -> array<bigint>` — rolling hash of
  * every k-character gram, one generated pass with no gram-string
  * allocation (empty below k chars; call sites guard). */
case class KgramHashes(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, IntegerType) if right.foldable =>
        if (right.eval() == null || kVal < 1)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName gram length must be a positive non-null constant")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, foldable int)")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "graft_kgram_hashes"

  private lazy val kVal: Int = right.eval().asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val s = left.eval(input)
    if (s == null) null
    else HashOps.kgramHashes(s.asInstanceOf[UTF8String], kVal)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) => {
      s"${ev.value} = graft.functions.catalyst.HashOps.kgramHashes($s, $kVal);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): KgramHashes =
    copy(left = l, right = r)
}

/** `graft_adjacent_pairs(array<string>, maxDist) ->
  * array<struct<a:string,b:string>>` — canonicalized (a ≤ b) token
  * pairs within `maxDist` positions, the co-occurrence explode input,
  * in one generated pass (see [[HashOps.adjacentPairs]]). */
case class AdjacentPairs(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(_: StringType, _), IntegerType) if right.foldable =>
        if (right.eval() == null || dVal < 1)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName max distance must be a positive non-null constant")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, foldable int)")
    }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", StringType), StructField("b", StringType))),
    containsNull = false)
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "graft_adjacent_pairs"

  private lazy val dVal: Int = right.eval().asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) null
    else HashOps.adjacentPairs(a.asInstanceOf[ArrayData], dVal)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      s"${ev.value} = graft.functions.catalyst.HashOps.adjacentPairs($a, $dVal);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdjacentPairs =
    copy(left = l, right = r)
}

/** `graft_bigram_stats(array<string>) ->
  * struct<n_bigrams, n_dup_bigrams, top_bigram_n>` (non-null bigints)
  * — the repetition-gate bigram counts in one generated pass (see
  * [[HashOps.bigramStats]]). NOT null-propagating: a NULL token array
  * gives zeros, matching the CASE in the HOF rendering. */
case class BigramStats(child: Expression)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("n_dup_bigrams", LongType, nullable = false),
    StructField("top_bigram_n", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bigram_stats"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = child.eval(input)
    HashOps.bigramStats(if (t == null) null else t.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val t = child.genCode(ctx)
    val resultCode =
      code"""
        ${t.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.functions.catalyst.HashOps.bigramStats(${t.isNull} ? null : ${t.value});
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BigramStats =
    copy(child = newChild)
}
