package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Native integer dot product over two `array<bigint>` columns — the hot
 * inner loop of the similarity/near-dup operators ([[graft.vector.VectorOps]]).
 *
 * Why a custom Catalyst expression (SURVEY.md §7.4 decision rule: built-ins
 * first, custom `Expression` only when they genuinely can't do the job):
 * the built-in formulation `aggregate(zip_with(a, b, _*_), 0, _+_)` is
 * CORRECT but runs interpreted — higher-order functions have no codegen —
 * and allocates an intermediate array per row. This expression generates a
 * tight primitive loop inside whole-stage codegen: no allocation, no
 * virtual calls, no boxing.
 *
 * Null semantics match the HOF chain it replaces exactly: null input array,
 * length mismatch (zip_with pads with null), or any null element (null
 * propagates through * and +) → null result.
 */
case class IntDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_int_dot requires two array<bigint> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  /** Always nullable: a length mismatch yields null even when both child
    * arrays are non-nullable. Inheriting children-based nullability would
    * (a) let the optimizer fold IsNull(dot) to false and (b) make
    * nullSafeCodeGen bind ev.isNull to the FalseLiteral, so the generated
    * `isNull = true` assignment would not compile and the stage would
    * silently fall back to interpreted execution. */
  override def nullable: Boolean = true

  override def prettyName: String = "graft_int_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName, not fixed names: the same expression can appear several
      // times in one codegen function (e.g. a dot both in a join condition
      // and in a projection) and fixed locals would collide — Janino then
      // rejects the whole stage and execution silently falls back to the
      // interpreted path
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getLong($i) * $b.getLong($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The engine's SQL function surface, one (identifier, info, builder)
  * tuple per function — shared by the session extension and by direct
  * registry registration (tests, notebooks on an already-built session). */
object GraftFunctions {
  val intDot: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("graft_int_dot"),
    new ExpressionInfo(classOf[IntDotProduct].getName, "graft_int_dot"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_int_dot takes exactly 2 arguments")
      IntDotProduct(children.head, children(1))
    }
  )

  /** `graft_shingles(toks[, n])` — n defaults to 3; any FOLDABLE integral
    * expression works (function resolution runs before constant folding,
    * so `1 + 1` or `CAST(2 AS INT)` arrive unfolded — evaluate rather than
    * pattern-match a bare literal). */
  val shingles: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("graft_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
    (children: Seq[Expression]) => children match {
      case Seq(toks) => WordShingles(toks, 3)
      case Seq(toks, e) if e.foldable =>
        e.eval() match {
          case n: Int => WordShingles(toks, n)
          case n: Short => WordShingles(toks, n.toInt)
          case n: Byte => WordShingles(toks, n.toInt)
          case n: Long if n.isValidInt => WordShingles(toks, n.toInt)
          case other => throw new IllegalArgumentException(
            s"graft_shingles: n must be a constant integer, got $other")
        }
      case _ => throw new IllegalArgumentException(
        "graft_shingles takes (array<string>[, constant integer n])")
    }
  )

  /** `graft_pq_nearest(sv, cws)` — nearest-codeword id; subDim is the
    * sub-vector's own length. */
  val pqNearest: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("graft_pq_nearest"),
    new ExpressionInfo(classOf[PqNearestCode].getName, "graft_pq_nearest"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_pq_nearest takes exactly 2 arguments")
      PqNearestCode(children.head, children(1))
    }
  )

  /** `graft_ivf_nearest(q, cqs, cns)` — nearest-centroid index by the
    * IVF cosine key. */
  val ivfNearest: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("graft_ivf_nearest"),
    new ExpressionInfo(classOf[IvfNearestCell].getName, "graft_ivf_nearest"),
    (children: Seq[Expression]) => {
      require(children.length == 3, "graft_ivf_nearest takes exactly 3 arguments")
      IvfNearestCell(children(0), children(1), children(2))
    }
  )

  /** `graft_bpe_encode(text, merges)` — subword encoding under a
    * CONSTANT ranked merge list (array of U+001F-joined pair keys, rank
    * = position); the merge table must be foldable because it becomes
    * the expression's reference object (the [[shingles]] evaluate-not-
    * pattern-match rule for pre-folding arguments). */
  val bpeEncode: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("graft_bpe_encode"),
    new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe_encode"),
    (children: Seq[Expression]) => children match {
      case Seq(text, m) if m.foldable && m.dataType.isInstanceOf[ArrayType] =>
        val arr = m.eval().asInstanceOf[ArrayData]
        require(arr != null, "graft_bpe_encode: merges must not be null")
        val merges = (0 until arr.numElements())
          .map(i => arr.getUTF8String(i).toString)
        BpeEncode(text, merges)
      case _ => throw new IllegalArgumentException(
        "graft_bpe_encode takes (string text, constant array<string> merges)")
    }
  )

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(intDot, shingles, pqNearest, ivfNearest, bpeEncode)
}

/**
 * Session-extension registration (`spark.sql.extensions=graft.expr.GraftExtensions`):
 * exposes the scalar expressions to SQL ([[GraftFunctions.all]]) and the
 * whole-operator primitives as TABLE functions
 * ([[GraftTableFunctions.all]]). The Column-API paths don't need the
 * extension — they build the expressions/plans directly.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    GraftTableFunctions.all.foreach(ext.injectTableFunction)
  }
}
