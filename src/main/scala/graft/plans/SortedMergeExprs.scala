package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Sorted-array merge expressions for the set/vector-similarity verify
  * hot paths. The candidate-verification joins of the APSS/PPJoin
  * family evaluate one exact overlap or dot product PER CANDIDATE PAIR
  * — millions of rows at corpus scale — so the per-pair verify must be
  * a single codegen'd linear merge, not an interpreted higher-order
  * fold (HOFs don't participate in whole-stage codegen and `element_at`
  * on a map probes by LINEAR SCAN, making the map-based dot O(|a|·|b|)
  * interpreted work per pair) and not a per-row hash set
  * (`array_intersect` allocates and fills an OpenHashSet and
  * materializes the intersection array per pair when only its SIZE is
  * needed).
  *
  * All three expressions are exact integer arithmetic over presorted
  * long arrays — the sort is paid once per document before the
  * candidate join fans out, so verification is O(|a|+|b|) compiled work
  * with zero allocation per pair.
  *
  * Sorted input is the CALLER'S contract and is not re-checked per
  * pair: the engine's verify stages sort once when they build each
  * vector or signature (`sort_array` before the candidate join fans
  * out), and the merge relies on that order. The Column entry points
  * are `private[graft]` for that reason — an unsorted input would
  * silently undercount.
  *
  * Null handling is specialized at CODEGEN time on the inputs' static
  * `containsNull`: the engine's shingle/term arrays are built
  * `containsNull = false` ([[HashedShinglesExpr]] et al.), so their
  * merge loops compile with no per-element null branch at all; inputs
  * with nullable elements get the tolerant loops (null = "no entry").
  * Both specializations evaluate identically on null-free data —
  * spec-pinned against each other.
  */
private[graft] object SortedMergeExprs {

  private[plans] def longArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** Whether an input's ELEMENT type admits nulls, from the static
    * schema — keys the codegen specialization. Conservative `true`
    * until resolved (doGenCode only runs on resolved expressions).
    */
  private[plans] def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
}

/** `sorted_overlap(a, b)` → INT: the number of DISTINCT values present
  * in both long arrays, each sorted ascending — byte-identical to
  * `size(array_intersect(a, b))` on null-free inputs (duplicates
  * within one array count once; the dual-advance skips equal runs).
  * Null elements are ignored (the dedup shingle arrays are declared
  * `containsNull=false`; the verify semantics treat null as "no
  * shingle"). Inputs MUST be sorted ascending; nothing checks it.
  */
case class SortedLongOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if (SortedMergeExprs.longArray(left.dataType) &&
        SortedMergeExprs.longArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_overlap expects two array<bigint> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) {
          cnt += 1
          // the run-skip also steps over nulls INSIDE an equal run —
          // otherwise array(5, null, 5) would count 5 twice, breaking
          // the documented nulls-ignored / duplicates-once contract
          while (i < na && (a.isNullAt(i) || a.getLong(i) == x)) i += 1
          while (j < nb && (b.isNullAt(j) || b.getLong(j) == x)) j += 1
        } else if (x < y) i += 1
        else j += 1
      }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val aNulls = SortedMergeExprs.elemNullable(left)
      val bNulls = SortedMergeExprs.elemNullable(right)
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val cnt = ctx.freshName("cnt")
      // containsNull=false inputs compile merge loops with no null branch
      val skipA = if (aNulls) s"if ($a.isNullAt($i)) { $i++; continue; }" else ""
      val skipB = if (bNulls) s"if ($b.isNullAt($j)) { $j++; continue; }" else ""
      val runA = if (aNulls) s"($a.isNullAt($i) || $a.getLong($i) == $x)"
        else s"$a.getLong($i) == $x"
      val runB = if (bNulls) s"($b.isNullAt($j) || $b.getLong($j) == $x)"
        else s"$b.getLong($j) == $x"
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $cnt = 0;
         |while ($i < $na && $j < $nb) {
         |  $skipA
         |  $skipB
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x == $y) {
         |    $cnt++;
         |    while ($i < $na && $runA) $i++;
         |    while ($j < $nb && $runB) $j++;
         |  } else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongOverlap =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_overlap"
}

object SortedLongOverlap {
  /** Column-API entry point. Sorted input is the caller's contract:
    * both arrays must be sorted ascending by construction (`sort_array`
    * where the signature is built) — an unsorted array silently
    * undercounts, which is why this stays `private[graft]`.
    */
  private[graft] def apply(a: Column, b: Column): Column =
    bridge.column(SortedLongOverlap(bridge.expression(a), bridge.expression(b)))
}

/** `sorted_dot(terms_a, tfs_a, terms_b, tfs_b)` → BIGINT: the sparse
  * integer dot product Σ tf_a·tf_b over shared term keys, where each
  * (terms, tfs) pair is parallel arrays with terms sorted ascending and
  * UNIQUE within a document (the tf-vector invariant: one entry per
  * distinct term). Exact BIGINT arithmetic — the cosine decision stays
  * integer until the caller's final sqrt. A length mismatch between a
  * terms array and its tfs array yields null (malformed vector, never
  * a silent wrong dot); null elements are tolerated as "no entry".
  * Terms MUST be sorted unique ascending; nothing checks it.
  */
case class SortedTermDot(
    termsA: Expression, tfsA: Expression,
    termsB: Expression, tfsB: Expression)
    extends QuaternaryExpression {

  override def first: Expression = termsA
  override def second: Expression = tfsA
  override def third: Expression = termsB
  override def fourth: Expression = tfsB

  override def dataType: DataType = LongType

  // mismatched parallel arrays yield null from non-null inputs
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(c => SortedMergeExprs.longArray(c.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_dot expects four array<bigint> inputs, got " +
        children.map(_.dataType.sql).mkString(", "))

  override def nullSafeEval(ta: Any, fa: Any, tb: Any, fb: Any): Any = {
    val keysA = ta.asInstanceOf[ArrayData]
    val valsA = fa.asInstanceOf[ArrayData]
    val keysB = tb.asInstanceOf[ArrayData]
    val valsB = fb.asInstanceOf[ArrayData]
    val na = keysA.numElements()
    val nb = keysB.numElements()
    if (na != valsA.numElements() || nb != valsB.numElements()) return null
    var i = 0
    var j = 0
    var acc = 0L
    while (i < na && j < nb) {
      if (keysA.isNullAt(i) || valsA.isNullAt(i)) i += 1
      else if (keysB.isNullAt(j) || valsB.isNullAt(j)) j += 1
      else {
        val x = keysA.getLong(i)
        val y = keysB.getLong(j)
        if (x == y) { acc += valsA.getLong(i) * valsB.getLong(j); i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ta, fa, tb, fb) => {
      val kaNulls = SortedMergeExprs.elemNullable(termsA)
      val vaNulls = SortedMergeExprs.elemNullable(tfsA)
      val kbNulls = SortedMergeExprs.elemNullable(termsB)
      val vbNulls = SortedMergeExprs.elemNullable(tfsB)
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val acc = ctx.freshName("acc")
      // containsNull=false inputs compile merge loops with no null branch
      def skip(parts: Seq[Option[String]], idx: String): String = {
        val ps = parts.flatten
        if (ps.isEmpty) "" else s"if (${ps.mkString(" || ")}) { $idx++; continue; }"
      }
      val skipA = skip(Seq(
        if (kaNulls) Some(s"$ta.isNullAt($i)") else None,
        if (vaNulls) Some(s"$fa.isNullAt($i)") else None), i)
      val skipB = skip(Seq(
        if (kbNulls) Some(s"$tb.isNullAt($j)") else None,
        if (vbNulls) Some(s"$fb.isNullAt($j)") else None), j)
      s"""
         |int $na = $ta.numElements();
         |int $nb = $tb.numElements();
         |if ($na != $fa.numElements() || $nb != $fb.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $i = 0; int $j = 0; long $acc = 0L;
         |  while ($i < $na && $j < $nb) {
         |    $skipA
         |    $skipB
         |    long $x = $ta.getLong($i);
         |    long $y = $tb.getLong($j);
         |    if ($x == $y) { $acc += $fa.getLong($i) * $fb.getLong($j); $i++; $j++; }
         |    else if ($x < $y) { $i++; } else { $j++; }
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): SortedTermDot =
    copy(termsA = newFirst, tfsA = newSecond, termsB = newThird, tfsB = newFourth)

  override def prettyName: String = "sorted_dot"
}

object SortedTermDot {
  /** Column-API entry point. Sorted input is the caller's contract:
    * each terms array must be sorted unique ascending by construction
    * (term-sorted at vector build, as the APSS verify's are) — a
    * misordered one silently drops terms from the dot, which is why
    * this stays `private[graft]`.
    */
  private[graft] def apply(termsA: Column, tfsA: Column,
      termsB: Column, tfsB: Column): Column =
    bridge.column(SortedTermDot(
      bridge.expression(termsA), bridge.expression(tfsA),
      bridge.expression(termsB), bridge.expression(tfsB)))
}

/** `suffix_sq_mass(tfs)` → ARRAY<BIGINT>: element i (0-based) is
  * Σ_{j≥i} tfs[j]² — the squared L2 mass of the vector's suffix
  * starting at each position. Feeds the APSS candidate join's
  * Cauchy–Schwarz positional filter (the L2AP residual bound,
  * Anastasiu & Karypis ICDE'14): a prefix token exploded at position p
  * carries `rsq[p]`, and a join row can only belong to a qualifying
  * pair if `rsq_a(p)·rsq_b(q) ≥ t²·n2_a·n2_b`. One O(n) backward pass
  * per document, computed once before the vector cache — never on the
  * per-candidate path (hence interpreted eval is fine; the expression
  * still ships codegen for completeness). Null elements contribute 0.
  */
case class SuffixSqMass(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (SortedMergeExprs.longArray(child.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"suffix_sq_mass expects array<bigint>, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Long](n)
    var acc = 0L
    var i = n - 1
    while (i >= 0) {
      if (!a.isNullAt(i)) {
        val x = a.getLong(i)
        acc += x * x
      }
      out(i) = acc
      i -= 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val arr = ctx.freshName("arr")
      val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |long[] $arr = new long[$n];
         |long $acc = 0L;
         |for (int $i = $n - 1; $i >= 0; $i--) {
         |  if (!$a.isNullAt($i)) {
         |    long $x = $a.getLong($i);
         |    $acc += $x * $x;
         |  }
         |  $arr[$i] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SuffixSqMass =
    copy(child = newChild)

  override def prettyName: String = "suffix_sq_mass"
}

object SuffixSqMass {
  /** Column-API entry point. */
  def apply(tfs: Column): Column =
    bridge.column(SuffixSqMass(bridge.expression(tfs)))
}
