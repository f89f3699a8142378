package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels for the vector-math / shingling expressions; static so
  * whole-stage codegen calls them directly.
  */
object VectorTextImpl {

  /** Distinct k-word shingles of a space-tokenized string, first-occurrence
    * order. Tokenization matches `split(text, ' ')` with Java limit -1
    * (interior/trailing empty tokens kept) so results are bit-identical to
    * the column-expression formulation — and to the DuckDB oracle's
    * `string_split(text, ' ')`. One pass, one StringBuilder; replaces a
    * `transform(sequence)/slice/concat_ws` higher-order pipeline that
    * dominated the dedup queries (HOFs evaluate interpreted, ~11us per
    * shingle; this kernel runs inside whole-stage codegen).
    */
  def wordShingles(s: UTF8String, k: Int): ArrayData = {
    val parts = s.toString.split(" ", -1)
    if (parts.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](parts.length * 2)
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i <= parts.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(parts(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var x = 0
    while (it.hasNext) { out(x) = UTF8String.fromString(it.next()); x += 1 }
    new GenericArrayData(out)
  }

  /** Sequential left-to-right dot product of two double arrays — the exact
    * accumulation order DuckDB's `list_inner_product` on DOUBLE[] uses, so
    * cosine results stay bit-identical to the oracle (and run-to-run: no
    * partition-order dependence). Replaces the interpreted
    * `aggregate(zip_with(...))` pipeline in the similarity hot path.
    */
  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** [[dotDD]] against a driver-held double array: same accumulation
    * order, so the same bits as a `dotDD` against that array as a literal.
    */
  private def dotDA(a: ArrayData, b: Array[Double]): Double = {
    val n = math.min(a.numElements(), b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b(i); i += 1 }
    acc
  }

  /** The `nprobe` best IVF cells of `v`: cells ranked by dot(v, c) / |c|,
    * highest first, as 0-based ids — decision for decision the two
    * column formulas it replaced:
    *  - output length min(nprobe, cells); a null `v` gives that many
    *    nulls;
    *  - a zero-norm centroid divides by zero as Spark's `/` does: an
    *    error when `failOnDivZero` (ANSI), else a null score;
    *  - null scores rank first when `nullsFirst` (the probe side's
    *    reversed `array_sort`) or last (the build side's `greatest`,
    *    which skips them), and come out as null cells; the rest rank in
    *    SQL double order, descending (NaN above every number,
    *    -0.0 = 0.0);
    *  - each ranked score maps to the FIRST cell with an equal score
    *    (`array_position` / the first-match `when` chain), so tied cells
    *    collapse to one id, repeated.
    * O(nprobe x cells) selection after the O(cells x dim) dots; with
    * nprobe = 1 it is the plain first-index-wins argmax.
    */
  def ivfCells(v: ArrayData, c: IvfCentroids, nprobe: Int,
               nullsFirst: Boolean, failOnDivZero: Boolean): ArrayData = {
    val n = c.size
    val m = math.min(nprobe, n)
    if (v == null) return new GenericArrayData(new Array[Any](m))
    if (failOnDivZero && c.anyZeroNorm) throw Bridge.divideByZeroError()
    val s = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (c.norms(i) != 0.0) s(i) = dotDA(v, c.cents(i)) / c.norms(i)
      i += 1
    }
    val out = rankCells(s, c.norms, m, nullsFirst)
    if (!c.anyZeroNorm) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(out.map(k => if (k < 0) null else k: Any))
  }

  /** The build-side cell of a driver-held vector: [[ivfCells]] with
    * nprobe = 1 and null scores last, as sequential driver double math
    * (the k-means and PQ training loops assign their samples with it).
    * Cell 0 when every centroid is zero-norm.
    */
  def nearestCell(v: Array[Double], c: IvfCentroids): Int = {
    val s = Array.tabulate(c.size) { i =>
      val ci = c.cents(i)
      val n = math.min(v.length, ci.length)
      var acc = 0.0
      var d = 0
      while (d < n) { acc += v(d) * ci(d); d += 1 }
      if (c.norms(i) != 0.0) acc / c.norms(i) else 0.0
    }
    math.max(0L, rankCells(s, c.norms, 1, nullsFirst = false)(0)).toInt
  }

  /** The `m` best cells of scores `s`, a zero-norm cell's score null
    * (-1 in the output); see [[ivfCells]] for the order. */
  private def rankCells(s: Array[Double], norms: Array[Double], m: Int,
                        nullsFirst: Boolean): Array[Long] = {
    val n = s.length
    val used = new Array[Boolean](n)
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      // lowest index among the best unused: `before` is strict
      var b = -1
      var i = 0
      while (i < n) {
        if (!used(i) && (b < 0 || {
            val (ni, nb) = (norms(i) == 0.0, norms(b) == 0.0)
            if (ni != nb) ni == nullsFirst
            else !ni && SQLOrderingUtil.compareDoubles(s(i), s(b)) > 0
          })) b = i
        i += 1
      }
      used(b) = true
      if (norms(b) == 0.0) out(j) = -1
      else {
        var f = 0
        while (norms(f) == 0.0 ||
            SQLOrderingUtil.compareDoubles(s(f), s(b)) != 0) f += 1
        out(j) = f
      }
      j += 1
    }
    out
  }

  /** Centroid vector of IVF cell `cell` (0-based). */
  def ivfCentroid(cell: Long, c: IvfCentroids): ArrayData = {
    val n = c.cents.length
    if (cell < 0 || cell >= n)
      throw Bridge.invalidElementAtIndexError((cell + 1).toInt, n)
    c.vectors(cell.toInt)
  }

  /** Phrase-chain join of two ascending-sorted int position arrays: the
    * positions p in `a` with p + offset present in `b`, by linear merge.
    * Chained left-to-right it yields the START positions of a phrase —
    * starts("t0 t1 t2") = phraseJoin(phraseJoin(ps0, ps1, 1), ps2, 2) —
    * the positional-index verification kernel ([[sortedIntersectCount]]'s
    * analog for term positions). Occurrence lists may repeat positions
    * only if the inputs do; the index's per-(term, doc) lists are
    * distinct ascending by construction.
    */
  def phraseJoin(a: ArrayData, b: ArrayData, offset: Int): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val out = new Array[Int](math.min(na, nb))
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getInt(i) + offset; val y = b.getInt(j)
      if (x == y) { out(c) = a.getInt(i); c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, c))
  }

  /** Minimum |x - y| over two ascending-sorted int arrays by the classic
    * two-pointer walk — the proximity (NEAR/slop) kernel. Int.MaxValue
    * on an empty side (no pair exists).
    */
  def sortedMinGap(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var best = Int.MaxValue
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      val d = math.abs(x - y)
      if (d < best) best = d
      if (best == 0) return 0
      if (x < y) i += 1 else j += 1
    }
    best
  }

  /** Minimum cover span over n ascending-sorted int arrays: the smallest
    * max−min over tuples taking one position from each list — the n-ary
    * generalization of [[sortedMinGap]] (for n = 2 the two definitions
    * coincide: |x − y| = max − min). Classic n-pointer sweep: record the
    * span of the current frontier, advance the pointer holding the
    * frontier MINIMUM (any tuple replacing a non-minimum can only widen
    * or tie), until the minimum's list is exhausted — O(total positions ×
    * n) with n = query terms, a plan constant. Int.MaxValue when any
    * list is empty or the outer array is (no covering tuple exists).
    */
  def sortedMinCover(lists: ArrayData): Int = {
    val n = lists.numElements()
    if (n == 0) return Int.MaxValue
    val arrs = new Array[ArrayData](n)
    val idx = new Array[Int](n)
    var i = 0
    while (i < n) {
      arrs(i) = lists.getArray(i)
      if (arrs(i) == null || arrs(i).numElements() == 0) return Int.MaxValue
      i += 1
    }
    var best = Int.MaxValue
    while (true) {
      var mn = Int.MaxValue; var mx = Int.MinValue; var mnAt = 0
      var j = 0
      while (j < n) {
        val v = arrs(j).getInt(idx(j))
        if (v < mn) { mn = v; mnAt = j }
        if (v > mx) mx = v
        j += 1
      }
      if (mx - mn < best) best = mx - mn
      if (best == 0) return 0
      idx(mnAt) += 1
      if (idx(mnAt) >= arrs(mnAt).numElements()) return best
    }
    best
  }

  /** ADC (asymmetric-distance-computation) lookup sum: Σ_s lut(s)(codes(s))
    * — the IVF-PQ candidate-scoring kernel. `codes` is a vector's stored
    * per-subspace codewords, `lut` the probe's per-subspace lookup rows;
    * the higher-order `aggregate(zip_with(...))` formulation evaluates
    * interpreted at ~µs per candidate, which dominated the pqRoute tier
    * (ROUTEBENCH r14: not kept up at the ann ladder); this runs the m
    * lookups inside whole-stage codegen.
    */
  def adcSum(codes: ArrayData, lut: ArrayData): Double = {
    val m = math.min(codes.numElements(), lut.numElements())
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc += lut.getArray(s).getDouble(codes.getInt(s))
      s += 1
    }
    acc
  }

  /** Intersection SIZE of two ascending-sorted string arrays by linear
    * merge: no per-pair hash set, no materialized intersection array —
    * the count `size(array_intersect(...))` computes at several times
    * the cost. Inputs must be distinct-element arrays sorted by
    * UTF8String binary order (exactly `sort_array`'s string order), which
    * the dedup family's per-doc shingle arrays are by construction.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    var i = 0; var j = 0; var c = 0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

/** Distinct k-word shingles: `string -> array<string>`. Native Catalyst
  * expression so the dedup shingling (the highest-volume transform in the
  * near-dup pipeline) stays inside whole-stage codegen.
  */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    VectorTextImpl.wordShingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorTextImpl.wordShingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Sequential dot product: `(array<double>, array<double>) -> double`. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorTextImpl.dotDD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorTextImpl.dotDD($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** A trained IVF centroid table, held BESIDE the expression tree by the
  * [[IvfCells]] / [[IvfCentroid]] kernels instead of as a child literal:
  * a plan, explain or AQE update renders it as `cells x dim @ hash`
  * (e.g. `63x32@1f3a9c0e`), never as its doubles. Equality and hash are
  * by content (the bits of every component), so semantically equal
  * plans over the same centroids still match. Norms are computed once
  * on the driver by sequential accumulation, the [[DotProduct]] order.
  */
final class IvfCentroids(rows: Seq[Seq[Double]]) extends Serializable {
  require(rows.nonEmpty, "an IVF index has at least one cell")
  val cents: Array[Array[Double]] = rows.map(_.toArray).toArray
  val norms: Array[Double] =
    cents.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
  def size: Int = cents.length
  val anyZeroNorm: Boolean = norms.contains(0.0)
  def toSeq: Seq[Seq[Double]] = cents.map(_.toSeq).toSeq

  /** Per-cell vectors as Catalyst arrays, built once per JVM. */
  @transient lazy val vectors: Array[ArrayData] =
    cents.map(c => UnsafeArrayData.fromPrimitiveArray(c): ArrayData)

  override def equals(o: Any): Boolean = o match {
    case that: IvfCentroids =>
      hashCode == that.hashCode &&
        java.util.Arrays.deepEquals(cents.asInstanceOf[Array[AnyRef]],
          that.cents.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override lazy val hashCode: Int =
    java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])
  override def toString: String =
    f"${cents.length}x${cents.head.length}@$hashCode%08x"
}

/** The `nprobe` best IVF cells of a vector:
  * `array<double> -> array<bigint>` ([[VectorTextImpl.ivfCells]]), the
  * one cell-assignment kernel of the IVF family — probe-side `nprobe`
  * cells (`nullsFirst`) and build-side argmax (`nprobe` = 1, null
  * scores last) alike. Codegen'd; the centroid table is a non-child
  * argument ([[IvfCentroids]]), so the expression prints as
  * `ivf_cells(qv, 63x32@1f3a9c0e, 5, true)`. `failOnError` is the
  * session's ANSI flag at construction, as for Spark's own `Divide`.
  */
case class IvfCells(child: Expression, cents: IvfCentroids, nprobe: Int,
                    nullsFirst: Boolean,
                    failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression {
  require(nprobe >= 0, s"nprobe must be >= 0 (got $nprobe)")
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "ivf_cells"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, cents, nprobe, nullsFirst)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    VectorTextImpl.ivfCells(child.eval(input).asInstanceOf[ArrayData],
      cents, nprobe, nullsFirst, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val ref = ctx.addReferenceObj("ivfCentroids", cents,
      classOf[IvfCentroids].getName)
    ev.copy(code = code"""
      ${v.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.VectorTextImpl.ivfCells(
          ${v.isNull} ? null : ${v.value}, $ref, $nprobe, $nullsFirst,
          $failOnError);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCells =
    copy(child = newChild)
}

/** Centroid of an IVF cell: `bigint -> array<double>`
  * ([[VectorTextImpl.ivfCentroid]]; an id outside the table fails as
  * ANSI `element_at` does). Codegen'd, with the same non-child centroid
  * table as [[IvfCells]].
  */
case class IvfCentroid(child: Expression, cents: IvfCentroids)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ivf_centroid"

  override def nullSafeEval(cell: Any): Any =
    VectorTextImpl.ivfCentroid(cell.asInstanceOf[Long], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCentroids", cents,
      classOf[IvfCentroids].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorTextImpl.ivfCentroid($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCentroid =
    copy(child = newChild)
}

/** Phrase-chain join over sorted int position arrays:
  * `(array<int>, array<int>) -> array<int>` keeping left positions p with
  * p + offset in the right array. The positional retrieval family's
  * phrase kernel — a higher-order `filter(pa, p -> array_contains(pb,
  * p + off))` evaluates interpreted and rescans `pb` per element; this
  * runs the O(m + n) merge inside whole-stage codegen.
  */
case class PhraseJoin(left: Expression, right: Expression, offset: Int)
    extends BinaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "phrase_join"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorTextImpl.phraseJoin(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorTextImpl.phraseJoin($a, $b, $offset)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PhraseJoin =
    copy(left = newLeft, right = newRight)
}

/** Two-pointer minimum gap over sorted int position arrays:
  * `(array<int>, array<int>) -> int` (Int.MaxValue when either side is
  * empty) — the proximity (NEAR/slop) kernel of the positional family.
  */
case class SortedMinGap(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_min_gap"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorTextImpl.sortedMinGap(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorTextImpl.sortedMinGap($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedMinGap =
    copy(left = newLeft, right = newRight)
}

/** ADC lookup sum: `(array<int>, array<array<double>>) -> double` —
  * Σ_s lut(s)(codes(s)), the IVF-PQ candidate-scoring kernel (codegen'd).
  */
case class AdcSum(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "adc_sum"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorTextImpl.adcSum(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorTextImpl.adcSum($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcSum =
    copy(left = newLeft, right = newRight)
}

/** n-ary minimum cover span over sorted int position lists:
  * `array<array<int>> -> int` (Int.MaxValue when any list is empty) —
  * the k-term window kernel of the positional family, generalizing
  * [[SortedMinGap]] to "all query terms within a span".
  */
case class SortedMinCover(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_min_cover"

  override def nullSafeEval(input: Any): Any =
    VectorTextImpl.sortedMinCover(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorTextImpl.sortedMinCover($c)")

  override protected def withNewChildInternal(
      newChild: Expression): SortedMinCover =
    copy(child = newChild)
}

/** Sorted-merge intersection count:
  * `(array<string> sorted, array<string> sorted) -> int`. The candidate
  * VERIFICATION kernel of the exact route tier ([[graft.operators.Dedup
  * .jaccardRouteOnKept]]): verification cost there is per-candidate, so
  * the hash-set build + result-array allocation inside
  * `size(array_intersect(...))` was the route's dominant term.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorTextImpl.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorTextImpl.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}
