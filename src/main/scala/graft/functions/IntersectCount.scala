package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Primitive set-intersection CARDINALITY for two long-array SETS — the
  * counting kernel of every Jaccard verify in the repo
  * (`2·|∩| ≥ t·|∪|`), replacing `size(array_intersect(a, b))`:
  * Spark's `ArrayIntersect` routes through a boxed hash set and
  * MATERIALIZES the intersection array only for `size` to throw it away.
  * This kernel never allocates the result: it copies the SMALLER side
  * into a primitive long buffer, sorts it, and binary-searches each
  * element of the larger side — O((n+m)·log n), zero boxing, one
  * bounded scratch buffer, inside whole-stage codegen as a single
  * static call (the [[Morton]] fusion pattern). Measured honestly: at
  * sf0.1 the verify stages are JOIN-dominated (the candidate→sets
  * shuffles), so the kernel does not move the bench needle there — its
  * win is allocation pressure and it grows with pair volume relative to
  * shuffle cost (the 100 TB direction, where verify batches are large
  * and resident).
  *
  * PRECONDITION (every call site holds it by construction): both arrays
  * are SETS — distinct elements — because they come from the shared
  * distinct-shingle/bigram builders. On multisets this counts matches of
  * the larger side against the smaller's distinct values, which is NOT
  * |∩| under bag semantics; the scaladoc'd contract, not a runtime check,
  * because a per-row distinctness scan would cost what the kernel saves.
  *
  * Null ELEMENTS: `ArrayData.getLong` on a null slot returns garbage, so
  * the expression dispatches on the inputs' STATIC `containsNull` flags at
  * codegen/eval time — tight (`containsNull=false`) types take this fast
  * path; anything else takes [[intersectCountNullAware]], which skips null
  * slots and counts `null` as one shared element iff BOTH sides hold one —
  * exactly `size(array_intersect(a, b))` set semantics. The repo builders
  * all produce value-non-null arrays (often TYPED nullable because lambda
  * nullability infects `transform`), so they run the null-aware path with
  * one extra branch per element and identical results. A null ARRAY yields
  * null via the standard null-safe path. */
object SetOps {
  def intersectCount(a: ArrayData, b: ArrayData): Long = {
    val (small, large) = if (a.numElements <= b.numElements) (a, b) else (b, a)
    val n = small.numElements
    if (n == 0) return 0L
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = small.getLong(i); i += 1 }
    java.util.Arrays.sort(buf)
    var c = 0L
    val m = large.numElements
    var j = 0
    while (j < m) {
      if (java.util.Arrays.binarySearch(buf, large.getLong(j)) >= 0) c += 1
      j += 1
    }
    c
  }

  /** Sorted-input variant — both arrays ASCENDING-sorted sets via
    * `array_sort` ONLY (nulls LAST — the order the null-aware kernel
    * below strips; `sort_array(asc)` places nulls FIRST, so a nullable
    * array sorted with it would hit `getLong` on null slots and silently
    * miscount): a single two-pointer merge, O(n+m)
    * with NO per-call scratch buffer, sort, or binary search. The win over
    * [[intersectCount]] is per-pair constant work when one side is probed
    * millions of times (the similarity-join verify shape): sort each set
    * ONCE at materialization, then every pair costs one linear merge.
    * Unsorted input silently undercounts — callers own the sort, which is
    * why this is a separate function rather than a flag. */
  def intersectCountSorted(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements
    val m = b.numElements
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Null-slot-correct sorted variant: `array_sort` places null LAST, so
    * the merge runs over the non-null prefix of each side and null counts
    * once iff both sides end with one ([[intersectCountNullAware]]'s set
    * semantics). */
  def intersectCountSortedNullAware(a: ArrayData, b: ArrayData): Long = {
    var n = a.numElements
    var m = b.numElements
    var aNull = false
    var bNull = false
    while (n > 0 && a.isNullAt(n - 1)) { aNull = true; n -= 1 }
    while (m > 0 && b.isNullAt(m - 1)) { bNull = true; m -= 1 }
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    if (aNull && bNull) c + 1 else c
  }

  /** MULTISET-correct variant — exactly `size(array_intersect(a, b))` on
    * ARBITRARY long arrays (duplicates and null slots included):
    * `array_intersect` emits each shared DISTINCT value once, so this
    * counts distinct values of the smaller side that the larger side
    * contains, plus 1 if both sides hold a null. Used by the
    * [[graft.plans.SetIntersectCountRewrite]] optimizer rule, which must
    * be sound on ANY input a user writes — the set-contract kernels above
    * are for call sites that guarantee distinctness by construction. Cost
    * over [[intersectCountNullAware]]: one found-flag array and a
    * dedup-skip in the scratch build — still O((n+m)·log n), still
    * allocation-bounded by the smaller side. */
  def intersectCountDistinct(a: ArrayData, b: ArrayData): Long = {
    val (small, large) = if (a.numElements <= b.numElements) (a, b) else (b, a)
    val n = small.numElements
    var smallHasNull = false
    val buf = new Array[Long](n)
    var nn = 0
    var k = 0
    while (k < n) {
      if (small.isNullAt(k)) smallHasNull = true
      else { buf(nn) = small.getLong(k); nn += 1 }
      k += 1
    }
    java.util.Arrays.sort(buf, 0, nn)
    // drop duplicate values in-place so each distinct value counts once
    var w = 0
    var r = 0
    while (r < nn) {
      if (w == 0 || buf(r) != buf(w - 1)) { buf(w) = buf(r); w += 1 }
      r += 1
    }
    val found = new Array[Boolean](w)
    var largeHasNull = false
    var c = 0L
    val m = large.numElements
    var j = 0
    while (j < m) {
      if (large.isNullAt(j)) largeHasNull = true
      else {
        val p = java.util.Arrays.binarySearch(buf, 0, w, large.getLong(j))
        if (p >= 0 && !found(p)) { found(p) = true; c += 1 }
      }
      j += 1
    }
    if (smallHasNull && largeHasNull) c + 1 else c
  }

  /** DISTINCT-value count of one long array — exactly
    * `size(array_distinct(a))` on arbitrary input (duplicates collapse, a
    * null element counts once): sort the non-null values into a primitive
    * scratch buffer, count boundaries. Used by the
    * [[graft.plans.SetIntersectCountRewrite]] family — the unary sibling
    * of [[intersectCountDistinct]] — so the natural
    * `size(array_distinct(x))` spelling never materializes the
    * deduplicated array it immediately discards. O(n·log n), zero
    * boxing. */
  def distinctCount(a: ArrayData): Long = {
    val n = a.numElements
    var hasNull = false
    val buf = new Array[Long](n)
    var nn = 0
    var k = 0
    while (k < n) {
      if (a.isNullAt(k)) hasNull = true
      else { buf(nn) = a.getLong(k); nn += 1 }
      k += 1
    }
    java.util.Arrays.sort(buf, 0, nn)
    var c = 0L
    var r = 0
    while (r < nn) {
      if (r == 0 || buf(r) != buf(r - 1)) c += 1
      r += 1
    }
    if (hasNull) c + 1 else c
  }

  /** Null-slot-correct variant for inputs whose element type is declared
    * nullable: null slots never reach `getLong`; a null element present on
    * BOTH sides contributes exactly 1 (set semantics, matching
    * `array_intersect`). */
  def intersectCountNullAware(a: ArrayData, b: ArrayData): Long = {
    val (small, large) = if (a.numElements <= b.numElements) (a, b) else (b, a)
    val n = small.numElements
    var smallHasNull = false
    var k = 0
    var nn = 0
    val buf = new Array[Long](n)
    while (k < n) {
      if (small.isNullAt(k)) smallHasNull = true
      else { buf(nn) = small.getLong(k); nn += 1 }
      k += 1
    }
    java.util.Arrays.sort(buf, 0, nn)
    var c = 0L
    var largeHasNull = false
    val m = large.numElements
    var j = 0
    while (j < m) {
      if (large.isNullAt(j)) largeHasNull = true
      else if (java.util.Arrays.binarySearch(buf, 0, nn, large.getLong(j)) >= 0) c += 1
      j += 1
    }
    if (smallHasNull && largeHasNull) c + 1 else c
  }
}

/** Catalyst-native wrapper over [[SetOps.intersectCount]] — a static call,
  * so it stays inside whole-stage codegen. Built by
  * [[GraftFunctions.intersectCount]]. */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"intersect_count expects (array<bigint>, array<bigint>), got $other")
    }

  /** True iff BOTH inputs statically guarantee non-null elements — the
    * fast path may then call `getLong` unguarded. Any nullable element
    * type routes to the null-aware kernel; dispatching on the STATIC type
    * (not per-row) keeps the hot loop branch-free when types are tight. */
  private def tight: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, ln), ArrayType(_, rn)) => !ln && !rn
    case _ => false
  }

  private def kernel: String =
    if (tight) "intersectCount" else "intersectCountNullAware"

  override def nullSafeEval(a: Any, b: Any): Any =
    if (tight)
      SetOps.intersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      SetOps.intersectCountNullAware(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SetOps.$kernel($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Catalyst-native wrapper over [[SetOps.intersectCountDistinct]] — the
  * MULTISET-correct form equal to `size(array_intersect(a, b))` on any
  * input. Planted by [[graft.plans.SetIntersectCountRewrite]]. */
case class IntersectCountDistinct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_distinct"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"intersect_count_distinct expects (array<bigint>, array<bigint>), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SetOps.intersectCountDistinct(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SetOps.intersectCountDistinct($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountDistinct =
    copy(left = newLeft, right = newRight)
}

/** Catalyst-native wrapper over [[SetOps.distinctCount]] — equal to
  * `size(array_distinct(a))` on any long-array input. Planted by
  * [[graft.plans.SetIntersectCountRewrite]]. */
case class DistinctCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "distinct_count"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"distinct_count expects array<bigint>, got $other")
    }

  override def nullSafeEval(a: Any): Any =
    SetOps.distinctCount(a.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SetOps.distinctCount($a)")

  override protected def withNewChildInternal(newChild: Expression): DistinctCount =
    copy(child = newChild)
}

/** Catalyst-native wrapper over [[SetOps.intersectCountSorted]] — same
  * contract as [[IntersectCount]] but requires BOTH inputs ascending-sorted
  * (null last, `array_sort` order); the caller owns the sort. Built by
  * [[GraftFunctions.intersectCountSorted]]. */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_sorted"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"intersect_count_sorted expects (array<bigint>, array<bigint>), got $other")
    }

  private def tight: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, ln), ArrayType(_, rn)) => !ln && !rn
    case _ => false
  }

  private def kernel: String =
    if (tight) "intersectCountSorted" else "intersectCountSortedNullAware"

  override def nullSafeEval(a: Any, b: Any): Any =
    if (tight)
      SetOps.intersectCountSorted(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      SetOps.intersectCountSortedNullAware(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SetOps.$kernel($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountSorted =
    copy(left = newLeft, right = newRight)
}
